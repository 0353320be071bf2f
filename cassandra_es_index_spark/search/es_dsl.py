"""ES query-DSL subset → engine AST.

The reference forwards any query starting with ``{`` verbatim to ES
(ref ElasticIndex.java:663-667); the documented/tested subset is
``range``, ``term``, ``terms``, ``match``, ``match_all``, ``exists``,
``bool`` (must/should/must_not/filter), ``query_string``, plus a top-level
``size`` (ref README.md:404-405). We translate that subset plus engine
superset clauses that compose onto the same AST: ``match_phrase``
(Phrase), ``prefix``/``wildcard`` (Wildcard — index-served when postings
exist), ``ids`` (doc-id lookup), top-level ``sort`` (field ordering
instead of score), ``search_after`` (keyset pagination — ES's
deep-pagination mechanism, a filter rather than an offset scan), and
``aggs``/``aggregations`` (terms / histogram / date_histogram buckets
with metric sub-aggs, executed by ``SearchEngine.search_aggs``; the
reference can only pass these through to ES, ref SURVEY.md §2.4).
"""

from __future__ import annotations

import functools
import json
import math
import re as _re
from dataclasses import dataclass, field as dc_field
from dataclasses import replace as _dc_replace
from typing import Any, Callable

from cassandra_es_index_spark.search.ast import (
    And, Boost, Boosting, ConstantScore, DisMax, DistanceFeature, Exists,
    FunctionScore,
    FunctionScoreArray, GeoBoundingBox, GeoDistance, GeoExists, GeoGridCell,
    GeoOnLine, GeoPolygon, GeoShapeLookup, HasChild, HasParent,
    KnnClause, ParentIdQ, PercolateDoc,
    DecayScore, Fuzzy, Ids, IntervalsMatch, MatchAll, MatchNone,
    MoreLikeThis, Nested,
    Node, Not, Or,
    Phrase, Range, RandomScore, RankFeature, Regexp, ScoreFunction,
    Scoreless, ScriptFilter, ScriptScore, Should, SpanContaining,
    SpanFirst, SpanNear,
    SpanNot, SpanOr,
    Term, TermPattern, TermsLookup, TermsSet, Wildcard,
)
from cassandra_es_index_spark.search import datemath
from cassandra_es_index_spark.search.compile import (
    _BOOST_MODES, _SCORE_MODES,
)
from cassandra_es_index_spark.search import query_string as qs


class DslError(ValueError):
    pass


# bucket_script / bucket_selector scripts: the painless subset that is
# pure arithmetic/comparison over params refs — translated to a Spark SQL
# expression (params.x → the resolved bucket column)
_SCRIPT_OK = _re.compile(
    r"^(?:params\.\w+|\d+(?:\.\d+)?|[\s\+\-\*/%\(\)]|==|!=|<=|>=|<|>|&&"
    r"|\|\||!)+$")


_DOC_SCRIPT_OK = _re.compile(
    r"^(?:doc\['[A-Za-z_][\w.]*'\]\.value|\d+(?:\.\d+)?"
    r"|[\s\+\-\*/%\(\)]|==|!=|<=|>=|<|>|&&|\|\||!)+$")


# user-script token stream: SQL atoms (substituted refs / numbers),
# arithmetic/comparison/logical operators, parens
_SCRIPT_TOK = _re.compile(
    r"\s*(TRY_CAST\(`[^`]+` AS DOUBLE\)|`[^`]+`|\d+(?:\.\d+)?"
    r"|&&|\|\||==|!=|<=|>=|[-+*/%()<>!])")
_SCRIPT_OPS = {"&&", "||", "==", "!=", "<=", ">=", "<", ">", "!",
               "+", "-", "*", "/", "%", "(", ")"}


def _arith_sql(name: str, substituted: str) -> str:
    """Precedence-climbing re-emit of a user script (painless
    arithmetic/comparison subset, refs already substituted with SQL
    atoms) as ONE Spark SQL expression — with ``/`` → ``try_divide``
    and ``%`` → ``try_mod`` so a runtime zero divisor yields NULL
    instead of an untyped SparkArithmeticException (ANSI mode): the
    typed-error contract holds at runtime too. NULL results then follow
    each consumer's null rule — a null terms_set threshold matches
    nothing, a null script_score scores 0, a null bucket-script value
    stays a null bucket column. Spark's ``/`` on integers is already
    floating-point division, so try_divide only changes the 0-divisor
    case."""
    toks: list[str] = []
    i = 0
    while i < len(substituted):
        if substituted[i:].strip() == "":
            break
        m = _SCRIPT_TOK.match(substituted, i)
        if not m:
            raise DslError(
                f"script {name!r}: cannot parse {substituted[i:]!r}")
        toks.append(m.group(1))
        i = m.end()
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def primary() -> str:
        t = peek()
        if t == "(":
            take()
            e = or_()
            if peek() != ")":
                raise DslError(f"script {name!r}: unbalanced parens")
            take()
            return f"({e})"
        if t in ("+", "-"):
            take()
            inner = primary()
            return f"(- {inner})" if t == "-" else inner
        if t is None or t in _SCRIPT_OPS:
            raise DslError(f"script {name!r}: expected a value, got "
                           f"{t!r}")
        return take()

    def mul() -> str:
        e = primary()
        while peek() in ("*", "/", "%"):
            op = take()
            r = primary()
            if op == "/":
                e = f"try_divide({e}, {r})"
            elif op == "%":
                e = f"try_mod({e}, {r})"
            else:
                e = f"({e} * {r})"
        return e

    def add() -> str:
        e = mul()
        while peek() in ("+", "-"):
            op = take()
            e = f"({e} {op} {mul()})"
        return e

    def cmp() -> str:
        e = add()
        if peek() in ("==", "!=", "<=", ">=", "<", ">"):
            op = take()
            e = f"({e} {'=' if op == '==' else op} {add()})"
        return e

    def not_() -> str:
        if peek() == "!":
            take()
            return f"(NOT {not_()})"
        return cmp()

    def and_() -> str:
        e = not_()
        while peek() == "&&":
            take()
            e = f"({e} AND {not_()})"
        return e

    def or_() -> str:
        e = and_()
        while peek() == "||":
            take()
            e = f"({e} OR {and_()})"
        return e

    out = or_()
    if pos != len(toks):
        raise DslError(f"script {name!r}: trailing tokens "
                       f"{toks[pos:]!r}")
    return out


def _compile_doc_script(name: str, script: str) -> str:
    """Translate an ES ``script_fields`` painless script (the same
    arithmetic/comparison subset the bucket scripts accept, with
    ``doc['field'].value`` refs instead of ``params``) to a Spark SQL
    expression over the document columns. Numeric refs evaluate as
    DOUBLE, painless's arithmetic domain (also keeps Spark's DECIMAL
    literal typing out of the result). Division/modulo emit
    try_divide/try_mod — a runtime zero divisor yields NULL, never an
    untyped Spark exception (see ``_arith_sql``)."""
    if not _DOC_SCRIPT_OK.match(script):
        raise DslError(
            f"script field {name!r}: only arithmetic/comparison over "
            f"doc['field'].value refs is supported, got {script!r}")
    substituted = _re.sub(r"doc\['([A-Za-z_][\w.]*)'\]\.value",
                          r"TRY_CAST(`\1` AS DOUBLE)", script)
    return _arith_sql(name, substituted)


_VEC_CALL = _re.compile(
    r"(cosineSimilarity|dotProduct|l2norm)\(\s*params\.(\w+)\s*,"
    r"\s*'([A-Za-z_][\w.]*)'\s*\)")


def _compile_score_script(name: str, script: str,
                          params: dict) -> tuple[str, tuple, tuple]:
    """Translate a ``script_score`` painless source to ONE Spark SQL
    expression — the arithmetic/comparison subset over
    ``doc['f'].value`` refs PLUS (r11) the ES dense-vector functions
    ``cosineSimilarity(params.qv, 'field')`` / ``dotProduct`` /
    ``l2norm`` and numeric ``params.X`` scalars. Vector calls compile
    to higher-order-function SQL over the array column (zip_with dot
    products against a literal query array — JVM codegen, no UDF, the
    same kernel shape as operators/similarity.py); ``cosineSimilarity``
    divides by try_divide so a zero document vector yields NULL →
    score 0 (the engine's null rule). Returns (sql, doc_field_refs,
    array_field_refs)."""
    import math as _math

    placeholders: dict[str, str] = {}
    arr_fields: list[str] = []

    def vec_sub(m: "_re.Match") -> str:
        fn_name, pname, fld = m.groups()
        if pname not in params:
            raise DslError(
                f"{name}: script references params.{pname} but the "
                "script carries no such param")
        vec = params[pname]
        if not isinstance(vec, list) or not vec or not all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in vec):
            raise DslError(f"{name}: params.{pname} must be a "
                           "non-empty numeric array")
        qa = ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in vec)
        col = f"`{fld}`"
        dot = (f"aggregate(zip_with({col}, array({qa}), "
               "(a, b) -> CAST(a AS DOUBLE) * b), "
               "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
        if fn_name == "dotProduct":
            sql = dot
        elif fn_name == "cosineSimilarity":
            nq = _math.sqrt(sum(float(v) ** 2 for v in vec))
            if nq == 0.0:
                raise DslError(f"{name}: params.{pname} is a zero "
                               "vector (cosine undefined)")
            nd = (f"sqrt(aggregate(transform({col}, "
                  "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                  "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
            sql = (f"try_divide({dot}, "
                   f"{nd} * CAST({nq!r} AS DOUBLE))")
        else:   # l2norm: euclidean distance doc-vector ↔ query vector
            sql = ("sqrt(aggregate(zip_with(" + col + ", array(" + qa
                   + "), (a, b) -> (CAST(a AS DOUBLE) - b) "
                   "* (CAST(a AS DOUBLE) - b)), "
                   "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))")
        key = f"__vec{len(placeholders)}"
        placeholders[key] = f"({sql})"
        arr_fields.append(fld)
        return f"doc['{key}'].value"

    src = _VEC_CALL.sub(vec_sub, script)

    def param_sub(m: "_re.Match") -> str:
        pname = m.group(1)
        if pname not in params:
            raise DslError(
                f"{name}: script references params.{pname} but the "
                "script carries no such param")
        v = params[pname]
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise DslError(f"{name}: params.{pname} must be numeric "
                           "here (vector params belong inside the "
                           "vector functions)")
        return repr(float(v))

    src = _re.sub(r"params\.(\w+)", param_sub, src)
    out = _compile_doc_script(name, src)
    for key, sql in placeholders.items():
        out = out.replace(f"TRY_CAST(`{key}` AS DOUBLE)", sql)
    refs = tuple(dict.fromkeys(
        f for f in _re.findall(r"doc\['([A-Za-z_][\w.]*)'\]\.value",
                               src)
        if not f.startswith("__vec")))
    return out, refs, tuple(dict.fromkeys(arr_fields))


# ES runtime_mappings types the arithmetic-script subset can produce →
# the Spark cast target (keyword/date need string/date-producing
# painless, outside the subset — typed error)
_RUNTIME_TYPES = {"double": "double", "long": "bigint",
                  "boolean": "boolean"}

# the function kinds a function_score query / functions-array entry may
# carry (exactly one per entry)
_FS_FN_KEYS = ("field_value_factor", "script_score", "random_score",
               "gauss", "linear", "exp")


def _parse_score_fn(fn: str, spec: Any) -> Node:
    """Parse ONE function_score function (``fn`` is a ``_FS_FN_KEYS``
    member, ``spec`` its body) into its scorer node with
    ``child=MatchAll()`` / ``boost_mode="multiply"`` — the caller
    re-attaches the real child/boost_mode (single-function form) or
    wraps it in a ScoreFunction entry (functions-array form)."""
    from cassandra_es_index_spark.search.compile import _FVF_MODIFIERS

    child = MatchAll()
    if fn == "field_value_factor":
        if not isinstance(spec, dict) or "field" not in spec:
            raise DslError("field_value_factor needs {'field': name}")
        modifier = str(spec.get("modifier", "none"))
        if modifier not in _FVF_MODIFIERS:
            raise DslError(
                f"unknown field_value_factor modifier {modifier!r}")
        try:
            factor = float(spec.get("factor", 1.0))
            missing = float(spec.get("missing", 1.0))
        except (TypeError, ValueError) as e:
            raise DslError("field_value_factor factor/missing must "
                           "be numeric") from e
        return FunctionScore(child, spec["field"], factor, modifier,
                             missing)
    if fn == "script_score":
        if not isinstance(spec, dict) or "script" not in spec:
            raise DslError("script_score needs {'script': ...}")
        script = spec["script"]
        sparams: dict = {}
        if isinstance(script, dict):
            sparams = script.get("params") or {}
            if not isinstance(sparams, dict):
                raise DslError("script params must be an object")
            script = script.get("source")
        if not isinstance(script, str) or not script.strip():
            raise DslError("script_score needs a script source "
                           "string")
        expr, refs, arr_fields = _compile_score_script(
            "script_score", script, sparams)
        return ScriptScore(child, expr, refs, script,
                           array_fields=arr_fields)
    if fn == "random_score":
        if not isinstance(spec, dict) or "seed" not in spec \
                or "field" not in spec:
            raise DslError(
                "random_score needs {'seed': int, 'field': name} — "
                "the unseeded wall-clock form is not supported "
                "(non-deterministic plans)")
        seed = spec["seed"]
        if isinstance(seed, bool) or not isinstance(seed, int):
            raise DslError("random_score seed must be an integer")
        return RandomScore(child, seed, str(spec["field"]))
    # decay: {"gauss": {field: {"origin", "scale", "offset", "decay"}}}
    if not isinstance(spec, dict) or len(spec) != 1:
        raise DslError(
            f"{fn} needs {{field: {{'origin','scale',...}}}}")
    (dfield, params), = spec.items()
    if not isinstance(params, dict) or "scale" not in params:
        raise DslError(f"{fn} on {dfield!r} needs a 'scale'")
    try:
        decay = float(params.get("decay", 0.5))
    except (TypeError, ValueError) as e:
        raise DslError(f"bad decay {params.get('decay')!r}") from e
    if not 0.0 < decay < 1.0:
        raise DslError(f"decay must be in (0,1), got {decay}")
    # origin defaults to `now` like ES (meaningful on date fields
    # only; numeric fields reject a non-numeric origin at compile)
    origin = params.get("origin", "now")
    return DecayScore(child, str(dfield), fn, origin, params["scale"],
                      params.get("offset", 0.0), decay)


def _compile_bucket_script(name: str, script: str,
                           paths: dict[str, str]) -> str:
    """Translate an ES bucket script (painless arithmetic subset) to a
    Spark SQL expression: ``params.x`` refs substitute their resolved
    bucket column; anything beyond arithmetic/comparison is rejected."""
    if not _SCRIPT_OK.match(script):
        raise DslError(
            f"bucket script {name!r}: only arithmetic/comparison over "
            f"params refs is supported, got {script!r}")
    out = script
    for pname, target in paths.items():
        col = "doc_count" if target == "_count" else target
        out = _re.sub(rf"params\.{_re.escape(pname)}\b", f"`{col}`", out)
    if "params." in out:
        raise DslError(f"bucket script {name!r}: unbound params ref "
                       f"in {script!r}")
    # try_divide/try_mod re-emit: a zero divisor yields a NULL bucket
    # value (bucket_selector: NULL never selects), not an untyped
    # SparkArithmeticException
    return _arith_sql(name, out)
# ES default percents for the percentiles agg
_DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)


def _fixed_tz_seconds(tz: str) -> int | None:
    """Seconds east of UTC for a fixed-offset ``time_zone`` string
    ("Z", "UTC", "GMT", "±HH", "±HHMM", "±HH:MM" — the ES-accepted
    fixed forms); ``None`` for anything else (a named IANA zone)."""
    if tz in ("Z", "UTC", "GMT"):
        return 0
    m = _re.fullmatch(r"([+-])(\d{2})(?::?(\d{2}))?", tz)
    if m is None:
        return None
    hh, mm = int(m.group(2)), int(m.group(3) or 0)
    if hh > 18 or mm > 59:
        raise DslError(f"time_zone offset out of range: {tz!r}")
    sec = hh * 3600 + mm * 60
    return -sec if m.group(1) == "-" else sec


def _apply_range_format(fmt: Any, lo: Any, hi: Any) -> tuple:
    """Resolve a range query's ``format`` (r14): bound values parse
    through the ES format-pattern subset (``datemath.key_parser`` —
    ``epoch_millis``/``epoch_second``/yyyy-MM-dd-HH-mm-ss-SSS tokens,
    ``||``-separated fallback patterns tried left to right like ES) and
    rewrite to plain ISO strings, so downstream — including a following
    ``time_zone`` — sees ordinary date bounds. Missing lower-order
    fields default to the unit start (the engine's documented
    down-rounding convention on BOTH bound sides; ES rounds ``lte`` up
    — documented deviation). A bound matching NO pattern typed-rejects
    naming value and formats — never a silently shifted bound.

    Epoch formats (``epoch_millis``/``epoch_second``) emit the ISO
    string WITH an explicit ``+00:00`` offset (r15 fix): epoch values
    are absolute UTC instants — ES never shifts them under a following
    ``time_zone`` — and ``_apply_range_time_zone``'s documented
    explicit-offset-wins rule then preserves the instant instead of
    reinterpreting it as zone-local wall clock. Harmless without a
    time_zone: the session zone is pinned UTC (session.py:39)."""
    if not isinstance(fmt, str) or not fmt:
        raise DslError("range format must be a non-empty string")
    try:
        parsers = [(p, datemath.key_parser(p)) for p in fmt.split("||")]
    except datemath.DateMathError as e:
        raise DslError(str(e)) from e

    def conv(v: Any) -> Any:
        if v is None:
            return v
        if isinstance(v, str) and datemath.is_date_math(v):
            raise DslError(
                "range format with date-math bounds is not supported "
                "(engine subset) — date math already carries its own "
                "anchor syntax")
        errs = []
        for pname, p in parsers:
            try:
                iso = p(v).isoformat(sep=" ")
            except datemath.DateMathError as e:
                errs.append(str(e))
                continue
            if pname in ("epoch_millis", "epoch_second"):
                return iso + "+00:00"
            return iso
        raise DslError(f"range format: {errs[-1]}"
                       if len(parsers) == 1 else
                       f"range format: bound {v!r} matches none of the "
                       f"patterns in {fmt!r}")

    return conv(lo), conv(hi)


def _apply_range_time_zone(tz: Any, lo: Any, hi: Any) -> tuple:
    """Resolve a range query's ``time_zone`` (r14): string date bounds
    WITHOUT an explicit offset are interpreted as wall-clock in the
    zone and rewritten to concrete UTC instants; bounds carrying their
    own offset/Z keep it (the ES rule: an explicit offset wins over
    time_zone). Fixed offsets and named IANA zones both resolve
    DRIVER-SIDE (the bound is a literal, so DST lookup is one zoneinfo
    call, never per row). Numeric bounds (epoch values — zone-free by
    definition) pass through. Date-math bounds typed-reject: zone-aware
    `now/d` rounding is an engine subset — anchor the math on an
    explicit-offset literal instead. Unparseable strings typed-reject —
    time_zone asserts the field is a date, so silently skipping a
    non-date bound would change the match set with no signal."""
    from datetime import datetime, timedelta, timezone as _tzcls

    if not isinstance(tz, str) or not tz:
        raise DslError("range time_zone must be a non-empty string")
    tzsec = _fixed_tz_seconds(tz)
    if tzsec is not None:
        tzinfo = _tzcls(timedelta(seconds=tzsec))
    else:
        try:
            from zoneinfo import ZoneInfo
            tzinfo = ZoneInfo(tz)
        except Exception:
            raise DslError(f"unknown time_zone {tz!r}")

    def conv(v: Any) -> Any:
        if v is None or not isinstance(v, str):
            return v
        if datemath.is_date_math(v):
            raise DslError(
                "range time_zone with date-math bounds is not "
                "supported (engine subset) — use an explicit-offset "
                "anchor in the expression instead")
        try:
            dt = datetime.fromisoformat(v.replace("Z", "+00:00"))
        except ValueError:
            raise DslError(
                f"range time_zone: unparseable date bound {v!r}")
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=tzinfo)
        dt = dt.astimezone(_tzcls.utc).replace(tzinfo=None)
        return dt.isoformat(sep=" ")

    return conv(lo), conv(hi)


def _pct_label(p: float) -> str:
    """50.0 → "50", 99.9 → "99_9" — column-name-safe percent label."""
    return (f"{p:g}").replace(".", "_")


def _msm_simple(s: str, n_terms: int, ctx: str) -> int:
    """Resolve one SIMPLE minimum-should-match expression (integer
    string or ``[-]N%``) against ``n_terms`` — the leaf evaluator of
    the full Solr grammar (`_msm_count`). Percent resolves by
    toward-zero INTEGER truncation of n·pct/100; Lucene's own
    arithmetic goes through ``(int)(n * pct * (1/100f))`` whose
    float32 rounding can under-count an exact multiple by one (90% of
    10 → 8) — the engine defines the deterministic integer rule
    instead (documented deviation, also what the r10 oracle probes
    pinned)."""
    if s.endswith("%"):
        try:
            pct = int(s[:-1])
        except ValueError as e:
            raise DslError(
                f"{ctx}: bad minimum_should_match {s!r}") from e
        if pct == 0 or pct > 100 or pct < -100:
            raise DslError(
                f"{ctx}: minimum_should_match percentage must be "
                "in (0, 100] or [-100, 0) (engine subset)")
        # Java-style toward-zero truncation of n·pct/100
        return ((n_terms * pct) // 100 if pct > 0
                else n_terms - (n_terms * -pct) // 100)
    try:
        plain = int(s)
    except ValueError as e:
        raise DslError(
            f"{ctx}: minimum_should_match must be an integer, "
            f"an integer string, '[-]N%', or a conditional list "
            f"('3<90%'), got {s!r}") from e
    # negative plain form: all but |N| of the clauses must match
    return plain if plain >= 0 else n_terms + plain


def _msm_count(msm: Any, n_terms: int, ctx: str, *,
               clamp: bool = True) -> int:
    """Resolve an ES ``minimum_should_match`` value to a clause-count
    floor. Full grammar (r11 — ES minimum-should-match spec, Lucene
    ``Queries.calculateMinShouldMatch`` / Solr
    ``calculateMinShouldMatch`` control flow):

    - int or integer STRING (``2``, ``"2"``): that many clauses;
      negative N = ``n_terms + N`` (ES's "all but |N|" form)
    - ``"N%"``: that percent of the clauses, fraction truncated toward
      zero (integer division — see `_msm_simple` for the documented
      float32 deviation); ``"-N%"`` = the percent allowed to be
      UNMATCHED
    - conditional list (``"3<90%"``, ``"2<-25% 9<-3"``): each
      space-separated ``N<value`` clause in order — when the optional
      clause count is ≤ N the previous result stands (initially ALL
      clauses required) and evaluation STOPS; otherwise the result
      becomes the simple-form value. Callers list conditions in
      ascending N, like Solr. A negative conditional result floors
      at 0.

    ``clamp=True`` floors the result at 1 — correct for pure
    disjunctions (match / more_like_this / terms_set), where Lucene
    requires ≥1 matching optional clause regardless. ``bool`` passes
    ``clamp=False`` and maps a sub-1 floor itself: beside must/filter
    the should clauses become fully optional (ES msm=0), alone they
    gate at ≥1."""
    if isinstance(msm, bool):
        raise DslError(f"{ctx}: bad minimum_should_match {msm!r}")
    if isinstance(msm, int):
        value = msm if msm >= 0 else n_terms + msm
    elif isinstance(msm, str):
        s = msm.strip()
        if "<" in s:
            # conditional spec(s): normalize spaces around '<' then
            # split on whitespace — Lucene's spaceAroundLessThan /
            # spacePattern pipeline
            value = n_terms          # "below every bound: all required"
            for part in _re.sub(r"\s*<\s*", "<", s).split():
                left, sep, rest = part.partition("<")
                if not sep or not rest:
                    raise DslError(
                        f"{ctx}: bad conditional minimum_should_match "
                        f"clause {part!r} (want 'N<value')")
                try:
                    upper = int(left)
                except ValueError as e:
                    raise DslError(
                        f"{ctx}: bad conditional minimum_should_match "
                        f"bound {left!r} in {msm!r}") from e
                if n_terms <= upper:
                    break            # Lucene: return the running result
                value = _msm_simple(rest, n_terms, ctx)
            value = max(0, value)
        elif " " in s:
            raise DslError(
                f"{ctx}: bad minimum_should_match {msm!r} — a "
                "space-separated list is only valid as conditional "
                "'N<value' clauses")
        else:
            value = _msm_simple(s, n_terms, ctx)
    else:
        raise DslError(f"{ctx}: minimum_should_match must be an "
                       f"integer, an integer string, '[-]N%', or a "
                       f"conditional list, got {msm!r}")
    return max(1, value) if clamp else value


def sibling_out_names(sn: str, sk: str,
                      percents: tuple[float, ...]) -> tuple[str, ...]:
    """Flattened output columns of one sibling pipeline agg entry —
    single-value kinds emit one column named after the agg; the stat
    kinds (r9) flatten like their metric twins (``stats`` /
    ``extended_stats`` / ``percentiles``)."""
    if sk == "stats_bucket":
        return tuple(f"{sn}_{s}"
                     for s in ("count", "min", "max", "avg", "sum"))
    if sk == "extended_stats_bucket":
        return tuple(f"{sn}_{s}"
                     for s in ("count", "min", "max", "avg", "sum",
                               "sum_of_squares", "variance",
                               "std_deviation"))
    if sk == "percentiles_bucket":
        return tuple(f"{sn}_p{_pct_label(p)}" for p in percents)
    if sk == "bucket_count_ks_test":
        # one p-value column per requested alternative (the 4th slot
        # carries (alternatives, fractions) for this kind)
        return tuple(f"{sn}_{a}" for a in percents[0])
    if sk == "change_point":
        # step_change/stationary verdict + the detected bucket key +
        # the best split's Welch statistic, df, and two-sided p-value
        return (f"{sn}_type", f"{sn}_key", f"{sn}_t",
                f"{sn}_df", f"{sn}_p")
    return (sn,)


@dataclass(frozen=True)
class MetricAgg:
    """One metric aggregation: ``{"name": {"avg": {"field": "f"}}}``.

    ``cardinality`` is served EXACTLY (count distinct) by default — the
    engine's superset of ES's HyperLogLog approximation. Passing ES's
    ``precision_threshold`` opts into HLL++ (approx_count_distinct), the
    shape that scales: the exact distinct needs a shuffle of every
    distinct value, the sketch merges fixed-size registers map-side.

    ``stats`` expands to five flattened columns (``<name>_count``/
    ``_min``/``_max``/``_avg``/``_sum``) — ES returns them as one object;
    a DataFrame row flattens it. A terms ``order`` may target
    ``"<name>.avg"`` etc., mapped onto the flattened column.

    ``percentiles`` is served EXACTLY by default (Spark ``percentile``,
    continuous interpolation — the engine's superset of ES's TDigest
    estimate, and DuckDB-oracle-checkable via ``quantile_cont``);
    passing ES's ``compression`` opts into the sketch
    (``percentile_approx``), the shape that scales — mirroring the
    ``cardinality``/``precision_threshold`` pattern. One flattened column
    per percent: ``<name>_p50``, ``<name>_p99_9``, …"""
    name: str
    kind: str   # avg|sum|min|max|value_count|cardinality|stats|percentiles
                # |extended_stats|weighted_avg
    field: str
    precision_threshold: int | None = None
    percents: tuple[float, ...] = _DEFAULT_PERCENTS
    compression: int | None = None
    # weighted_avg: Σ(value×weight)/Σ(weight); docs missing either the
    # value or the weight are skipped (ES semantics without `missing`)
    weight_field: str | None = None
    # percentile_ranks: the probe values; result per value = percentage
    # of field values ≤ the probe (EXACT — superset of ES's TDigest
    # estimate, like the percentiles metric)
    rank_values: tuple[float, ...] = ()
    # matrix_stats: the field list (listwise deletion — docs missing ANY
    # field are excluded, ES MatrixStats semantics);
    # top_metrics: the metric fields returned from the top document
    multi_fields: tuple[str, ...] = ()
    # top_metrics: `field` holds the sort field, `sort_asc` its
    # direction; size-1 engine subset (one flattened column per metric
    # field — max_by/min_by, map-side combinable; docs with a null sort
    # value are skipped like ES, ties break arbitrarily like ES's
    # shard-order ties)
    sort_asc: bool = True
    # ES metric `missing` (r12, the simple tier): null field values
    # substitute this value instead of dropping from the aggregate
    missing: Any = None
    # rate: the per-`unit` scaling of a date_histogram bucket's
    # doc_count (field=None) or field sum — validated against the
    # PARENT at execution (fixed-span parents only, engine subset)
    unit: str | None = None
    # rate mode (r12): "sum" (ES default — field sum, or doc_count
    # when no field) | "value_count" (count of field VALUES)
    rate_mode: str = "sum"
    # t_test (r12): `field` holds population a's field; t_b is b's;
    # optional filter Nodes gate each side; t_type ∈ paired/
    # heteroscedastic/homoscedastic. DEVIATION (documented): the
    # engine returns the t-STATISTIC and degrees of freedom —
    # deterministic, SQL-oracle-checkable — where ES returns the
    # p-value (a t-distribution CDF, not expressible as Column math;
    # ``functions.stats.t_p_value`` converts client-side).
    t_b: str | None = None
    t_filter_a: "Node | None" = None
    t_filter_b: "Node | None" = None
    t_type: str = "heteroscedastic"
    # geo_line (r12): `field` holds the geo_point field, `sort_field`
    # the ordering field (sort_asc its direction), `line_size` the ES
    # point cap (default/max 10000). Output: ONE GeoJSON LineString
    # string column — the track of the bucket's points in sort order.
    sort_field: str | None = None
    line_size: int = 10000
    # scripted_metric (r12): the init/map/combine/reduce pipeline
    # translated AT PARSE TIME to one Spark SQL aggregate expression —
    # `state.v += <arith>` map statements become sum() aggregates, the
    # combine arithmetic composes them, and the reduce must be a
    # single-state identity form (this engine is ONE shard, the
    # SamplerAgg premise). Stored fully composed; metric_cols just
    # F.expr()s it.
    script_sql: str | None = None
    # reverse_nested (r13): parent-scope metric sub-aggs — each runs
    # over the DISTINCT parent documents holding ≥1 element in the
    # bucket (ES: aggregating continues in parent scope after
    # reverse_nested). Engine subset: avg/sum/min/max/value_count/
    # cardinality over a parent field.
    sub_metrics: tuple["MetricAgg", ...] = ()

    def out_names(self) -> tuple[str, ...]:
        if self.kind == "stats":
            return tuple(f"{self.name}_{s}"
                         for s in ("count", "min", "max", "avg", "sum"))
        if self.kind == "extended_stats":
            # ES extended_stats flattened: the stats five plus sum of
            # squares and POPULATION variance/std-deviation (ES defaults)
            return tuple(f"{self.name}_{s}"
                         for s in ("count", "min", "max", "avg", "sum",
                                   "sum_of_squares", "variance",
                                   "std_deviation"))
        if self.kind == "percentiles":
            return tuple(f"{self.name}_p{_pct_label(p)}"
                         for p in self.percents)
        if self.kind == "percentile_ranks":
            return tuple(f"{self.name}_{_pct_label(v)}"
                         for v in self.rank_values)
        if self.kind == "geo_centroid":
            # ES returns {location: {lat, lon}, count} — flattened
            return tuple(f"{self.name}_{s}"
                         for s in ("lat", "lon", "count"))
        if self.kind == "geo_bounds":
            # ES returns {top_left: {lat, lon}, bottom_right: {...}} —
            # flattened to the four box edges (wrap_longitude=false)
            return tuple(f"{self.name}_{s}"
                         for s in ("top", "left", "bottom", "right"))
        if self.kind == "boxplot":
            return tuple(f"{self.name}_{s}"
                         for s in ("min", "max", "q1", "q2", "q3"))
        if self.kind == "string_stats":
            return tuple(f"{self.name}_{s}"
                         for s in ("count", "min_length", "max_length",
                                   "avg_length", "entropy"))
        if self.kind == "top_metrics":
            return tuple(f"{self.name}_{f}" for f in self.multi_fields)
        if self.kind == "reverse_nested":
            return (f"{self.name}_doc_count",) + tuple(
                f"{self.name}_{n}" for s in self.sub_metrics
                for n in s.out_names())
        if self.kind == "t_test":
            return (f"{self.name}_t", f"{self.name}_df")
        if self.kind == "matrix_stats":
            # per field: count / mean / variance (sample); per unordered
            # pair: covariance / correlation — ES's matrix flattened
            # (skewness/kurtosis omitted, documented deviation)
            names = []
            for f in self.multi_fields:
                names += [f"{self.name}_{f}_{s}"
                          for s in ("count", "mean", "variance")]
            for i, a in enumerate(self.multi_fields):
                for b in self.multi_fields[i + 1:]:
                    names += [f"{self.name}_{a}_{b}_covariance",
                              f"{self.name}_{a}_{b}_correlation"]
            return tuple(names)
        return (self.name,)


@dataclass(frozen=True)
class TopHits:
    """ES ``top_hits`` sub-agg: the top ``size`` documents per bucket
    under ``sort`` (primary key appended as tiebreak; default ordering is
    key asc), flattened as one output row per hit with ``_hit_rank``.
    ``source`` limits the emitted document columns (ES ``_source``
    filtering); empty = all document columns. Allowed only on the
    innermost bucket level."""
    size: int = 3
    sort: tuple[tuple[str, bool, bool], ...] = ()
    source: tuple[str, ...] = ()


@dataclass(frozen=True)
class BucketAgg:
    """One bucket aggregation with optional metric sub-aggs."""
    name: str
    kind: str   # terms | histogram | date_histogram | range
    field: str
    size: int | None = None                 # terms (ES default 10)
    interval: float | None = None           # histogram
    # histogram `offset`: buckets align to offset + n×interval (ES
    # requires |offset| < interval; normalized at parse time)
    offset: float | None = None
    # terms `include`/`exclude`: ("re", anchored-pattern) — the regex
    # must match the WHOLE term string, like ES — or ("values", (…,))
    include: tuple | None = None
    exclude: tuple | None = None
    # multi_terms: the composite key's source fields (≥2)
    multi_fields: tuple[str, ...] = ()
    calendar_interval: str | None = None    # date_histogram
    fixed_interval: str | None = None       # date_histogram ("30s","1h",…)
    # date_histogram `time_zone` (r14): FIXED offsets ("Z", "±HH:MM",
    # "±HHMM", "±HH") fold into `offset` at parse time (bucket
    # boundary = trunc(ts + tz - offset) + offset - tz, i.e. the
    # existing shift-trunc-shift machinery with an effective offset),
    # so this field carries NAMED IANA zones only — their DST-variable
    # offset needs per-instant wall-clock truncation in the engine
    time_zone: str | None = None
    # terms bucket ordering: ((target, ascending), ...) criteria
    # applied left to right, where target is "_count", "_key", a
    # sub-metric agg name, or "<stats>.avg" etc. (ES `order` param —
    # single object or list form); default ES ordering is doc_count desc
    order: tuple[tuple[str, bool], ...] | None = None
    # range agg: ((key, from, to), ...) — from inclusive, to exclusive,
    # None = open side; key is the ES "from-to" label unless the request
    # names the range. Overlapping ranges count a doc in EACH bucket
    # (ES semantics).
    ranges: tuple[tuple[str, float | None, float | None], ...] = ()
    # date_range `format` (r14): renders the ES-style default
    # ``from-to`` keys of UNNAMED ranges from the resolved bound
    # instants (key None in ``ranges`` until the engine renders it);
    # validated at parse via datemath.key_formatter
    key_format: str | None = None
    # filters agg: ((name, query-AST), ...) — one bucket per named query;
    # a doc joins EVERY bucket whose query it matches (ES semantics)
    filter_nodes: tuple[tuple[str, Node], ...] = ()
    # ES `missing`: substitute for null bucket values (docs with a null
    # field join this bucket instead of being dropped)
    missing: Any = None
    # ES `min_doc_count`: drop buckets below this count (terms default 1;
    # histogram 0 — the engine never materializes empty buckets, so only
    # values > 1 change the result)
    min_doc_count: int | None = None
    # geotile_grid zoom (0-29, ES default 7) / geohash_grid chars
    # (1-12, ES default 5) / ip_prefix prefix_length (1-32)
    precision: int | None = None
    # ip_prefix append_prefix_length: suffix bucket keys with "/len"
    append_prefix: bool = False
    # geo_distance agg (r11): (origin_lat, origin_lon, meters_per_unit)
    # — the range bounds/keys are in the request's unit
    geo_origin: tuple | None = None
    # significant_terms/_text background_filter (r12): narrows the
    # BACKGROUND set the foreground is scored against (ES's
    # compare-against-a-context idiom) — None = the whole index
    bg_filter: "Node | None" = None
    # significance heuristic (r12): (kind, include_negatives,
    # background_is_superset) — jlh (ES default) | percentage |
    # chi_square | mutual_information
    sig_heuristic: tuple = ("jlh", False, True)
    # auto_date_histogram target bucket count (ES default 10): the
    # engine picks the smallest fixed interval from its ladder whose
    # bucket count fits, then runs the date_histogram machinery
    buckets: int | None = None
    metrics: tuple[MetricAgg, ...] = dc_field(default_factory=tuple)
    # ES top_hits sub-agg (innermost level only)
    top_hits: TopHits | None = None
    # ES pipeline aggs ((name, kind, buckets_path), ...) — cumulative_sum
    # / derivative over the key-ordered bucket frame; single level only
    pipelines: tuple[tuple[str, str, str], ...] = ()
    # ES extended_bounds {"min":…, "max":…} — with min_doc_count 0 the
    # materialized empty-bucket span widens to cover these bounds
    extended_bounds: tuple[Any, Any] | None = None
    # ES hard_bounds (r12): LIMITS the bucket range — docs whose
    # bucket falls outside [min, max] drop from the aggregation
    # (enforced in the scan gate, a plain pushdown-friendly filter)
    hard_bounds: tuple[Any, Any] | None = None
    # sibling pipeline aggs ((name, kind, bucket column), ...) — ES
    # avg_bucket/sum_bucket/min_bucket/max_bucket declared NEXT TO this
    # bucket agg; one value over the whole bucket frame, emitted as a
    # constant column (single level only); entries are
    # (name, kind, resolved leaf column, percents — percentiles_bucket
    # only); flattened output columns per entry via sibling_out_names
    siblings: tuple[tuple[str, str, str, tuple[float, ...]], ...] = ()
    # one nested sub-bucket per level, nesting to arbitrary depth — ES
    # sub-aggregations; executed flattened: (key, doc_count, sub_key,
    # sub_doc_count, sub2_key, sub2_doc_count, …, metrics per level)
    sub: "BucketAgg | None" = None


@dataclass(frozen=True)
class CompositeSource:
    """One composite-agg source: terms / histogram / date_histogram /
    geotile_grid over a field, ascending by default (``order: desc``
    flips it). ``missing_bucket`` keeps docs with a null source value
    as a null bucket, sorted first ascending / last descending (ES
    default missing_order). ``geotile_grid`` (r11) keys on the
    web-mercator "z/x/y" tile of a geo_point field
    (functions/geo.geotile_key) at ``precision`` (0-29, ES default 7);
    pagination order is the tile key's STRING order — a documented
    deviation from ES's underlying-long order with identical bucket
    membership, mirrored exactly by a string-sorting oracle."""
    name: str
    kind: str       # terms | histogram | date_histogram | geotile_grid
    field: str
    interval: float | None = None
    calendar_interval: str | None = None
    fixed_interval: str | None = None
    # date_histogram source only (r14.75): the EFFECTIVE boundary shift
    # in seconds — the parsed ES `offset` minus the fixed-zone seconds
    # (the same fold the plain date_histogram uses); named zones
    # typed-reject here because keyset `after` anchors must be fixed
    # instants
    offset_sec: float = 0.0
    asc: bool = True
    missing_bucket: bool = False
    precision: int = 7


@dataclass(frozen=True)
class CompositeAgg:
    """ES ``composite`` agg: ALL distinct combinations of the source
    keys (docs with a null source value drop out — ES's default without
    ``missing_bucket``), ordered lexicographically by the source tuple,
    paged with ``size`` + ``after`` keyset cursor — the ES-recommended
    way to walk every bucket at scale, and exactly a Spark
    groupBy + keyset filter + ordered limit (no top-size truncation,
    pages cost the same at any depth)."""
    name: str
    sources: tuple[CompositeSource, ...]
    size: int = 10
    after: tuple[Any, ...] | None = None   # one anchor per source, in order
    metrics: tuple[MetricAgg, ...] = dc_field(default_factory=tuple)


@dataclass(frozen=True)
class SingleBucketAgg:
    """ES single-bucket aggs — one bucket of ``doc_count`` + metric
    sub-aggs whose doc set transforms the match set:

    - ``filter``: match set ∩ the filter clause
    - ``missing``: matching docs with a null ``field``
    - ``global``: ALL documents, ignoring the query
    """
    name: str
    kind: str                       # filter | missing | global
    node: Node | None = None        # filter clause (kind == "filter")
    field: str = ""                 # kind == "missing"
    metrics: tuple[MetricAgg, ...] = dc_field(default_factory=tuple)


@dataclass(frozen=True)
class SamplerAgg:
    """ES ``sampler`` / ``diversified_sampler`` (r9): restrict the
    sub-aggregations to the top ``shard_size`` highest-SCORING matches
    (single engine = one shard, so shard_size IS the sample size —
    deterministic: score desc, primary key asc). ``diversified_sampler``
    first caps each distinct ``field`` value at ``max_docs_per_value``
    best-scoring docs (one groupBy-shaped window); docs with a NULL
    field value are never diversity-limited (each forms its own group —
    the engine's collapse null convention, documented vs Lucene's
    single missing-key bucket). Top level only; the flattened output is
    the sub-aggregation's frame computed over the sample (one
    ``doc_count`` row when no sub-aggs are declared)."""
    name: str
    kind: str          # sampler | diversified_sampler | random_sampler
    shard_size: int = 100
    field: str = ""                 # diversified only
    max_docs_per_value: int = 1     # diversified only
    # random_sampler (r12): keep ≈ probability of the match set via a
    # DETERMINISTIC multiplicative hash of the primary key (documented
    # subset of ES's per-shard RNG — same seed → same sample on every
    # run and every engine, which is what the seed param is FOR)
    probability: float = 0.0        # random_sampler only
    seed: int = 0                   # random_sampler only
    sub: ("BucketAgg | CompositeAgg | SingleBucketAgg | "
          "tuple[MetricAgg, ...] | None") = None


@dataclass(frozen=True)
class NestedAgg:
    """ES ``nested`` aggregation (r9): the sub-aggregations run over the
    ELEMENTS of an array-of-structs field — doc_count semantics switch
    from documents to elements (ES nested agg contract). The engine
    explodes the path once and rebinds the agg frame, so element fields
    resolve by their ES dotted path (``items.rating``) through the
    ordinary struct descent; every bucket/metric/pipeline kind composes
    unchanged over the element frame. Engine subset (typed): top level
    only (optionally under a sampler), ONE nested level (no
    nested-in-nested), path = a top-level array<struct> column,
    ``reverse_nested`` not supported (the flattened output has no
    per-bucket parent identity column to return to)."""
    name: str
    path: str
    sub: ("BucketAgg | CompositeAgg | SingleBucketAgg | "
          "tuple[MetricAgg, ...] | None") = None


@dataclass(frozen=True)
class RelAgg:
    """ES ``children`` / ``parent`` join aggregations (r12): rebind the
    agg frame to the OTHER side of a registered parent/child relation
    (``SearchEngine.register_relation`` — the ES join-field mapping
    analogue; the reference forwards join aggs verbatim to ES, ref
    ElasticIndex.java search passthrough).

    ``children`` (searched on the parent table): the sub-aggregations
    run over the CHILD documents whose foreign key appears in the
    parent match set — doc_count semantics switch from parents to
    children (ES children-agg contract). ``parent`` (searched on the
    child table): symmetric — the frame becomes the DISTINCT parent
    documents of the matching children (each parent bucketed once, the
    ES parent-agg contract; a semi-join gives that for free).

    Plan shape: ONE left-semi equi-join on the relation key
    (AQE-broadcastable when the match set is small, never a driver
    collect), then every downstream bucket/metric/pipeline kind
    composes unchanged over the rebound frame. Engine subset (typed):
    top level only, no sampler/global/rel sub-aggs (they would score or
    scope against the wrong table)."""
    name: str
    kind: str                       # children | parent
    rel_type: str                   # relation name from the mapping
    sub: ("BucketAgg | CompositeAgg | SingleBucketAgg | "
          "tuple[MetricAgg, ...] | None") = None


@dataclass(frozen=True)
class Request:
    """A parsed search request body."""
    node: Node
    size: int | None = None
    from_: int = 0   # ES `from` offset (shallow pagination)
    aggs: ("BucketAgg | CompositeAgg | SingleBucketAgg | "
           "tuple[MetricAgg, ...] | None") = None
    # (field, ascending, nulls_first); nulls_first defaults to False —
    # ES defaults `missing` to `_last` for BOTH directions — and the
    # explicit `missing` param (`_first`/`_last`) overrides it
    sort: tuple[tuple[str, bool, bool], ...] = ()
    search_after: tuple[Any, ...] | None = None
    # ES field collapsing: keep only the top hit (per the active
    # ordering) for each distinct value of this field; docs with a null
    # field are NOT collapsed (each keeps its own hit, like ES docs
    # missing the field). hits.total stays uncollapsed.
    collapse: str | None = None
    # ES collapse inner_hits size (r6): when set, each collapsed group
    # expands to its top-N member rows with an `_inner_rank` column
    # (flattened form of ES's inner_hits arrays); group selection and
    # paging still count GROUPS
    collapse_inner: int | None = None
    # collapse inner_hits custom sort (r13): ((field, asc,
    # nulls_first), ...) — when set, group members rank by THIS
    # ordering instead of the request's primary ordering (ES inner_hits
    # sort); empty = primary ordering
    collapse_inner_sort: tuple = ()
    # ES nested inner_hits size (r8): when set (top-level nested query
    # only — documented), each parent hit expands to its top-N MATCHING
    # array elements ranked by element child score desc, flattened as
    # `<path>_<field>` columns + `_inner_rank`; hit selection and
    # paging still count PARENTS
    nested_inner: int | None = None
    # nested inner_hits custom sort (r13): (element_field, asc) — when
    # set, matching elements rank by this element field instead of the
    # element child score; None = score ranking
    nested_inner_sort: "tuple[str, bool] | None" = None
    # has_child/has_parent inner_hits (r13): populated by the ENGINE's
    # join expansion (never by the parser) — a spec dict holding the
    # matched other-side frame + join-key/prefix/size so the search
    # path can flatten each hit's top-N matching relatives as
    # `<type>_<field>` columns + `_inner_rank` after paging
    join_inner: Any = None
    # ES highlight: ((field, pre_tag, post_tag, number_of_fragments,
    # fragment_size, no_match_size), ...) — each requested field gains a
    # `_highlight_<field>` column. number_of_fragments 0 = whole-field
    # wrapping (one string); N > 0 (ES default 5, r6) = the fragment
    # shape: a JSON array of up to N match-bearing fragments (sentence
    # fragmenter, fragment_size char cap — see SearchEngine.search)
    highlight: tuple[tuple[str, str, str, int, int, int], ...] = ()
    # ES retriever.rrf (r11 — reciprocal rank fusion, the ES 8.14+
    # hybrid-ranking surface): (sub_request_json_strings, rank_constant,
    # rank_window_size). Each sub request is a standard {"query": ...}
    # or {"knn": ...} body the engine re-enters search() with; the
    # final score is Σ 1/(rank_constant + rank_i) over the retrievers
    # that ranked the doc inside the window.
    rrf: tuple | None = None
    # ES kNN search (the ES 8 top-level `knn` section): (vector field,
    # query vector, k, optional pre-filter AST, method, num_candidates,
    # nprobe, hybrid). `hybrid` (r6) marks a knn section declared BESIDE
    # a `query` section — ES 8.4 hybrid search: hit union, score sum.
    # `method` routes the plan: "exact" is a full cosine top-k
    # scan (the correctness baseline), "ivf" probes a built/attached IVF
    # index with cell partition pruning (the 100 TB path — ES's
    # approximate-HNSW analogue), "lsh" buckets on sign-LSH signatures
    # with no prebuilt index. Default: "ivf" when the engine holds an
    # IVF index for the field, else "exact". `num_candidates` (ES param)
    # sizes the examined candidate pool — mapped onto the IVF probe
    # width when `nprobe` is not given explicitly.
    knn: ("tuple[str, tuple[float, ...], int, Node | None, str | None,"
          " int | None, int | None, bool] | None") = None
    # ES `min_score` (r6): hits scoring below the floor drop out —
    # applied to the match set BEFORE ranking/pagination and before the
    # metadata totals, like ES
    min_score: float | None = None
    # ES `runtime_mappings` (r9): ((name, spark type, sql expr), ...) —
    # search-time computed fields over the painless arithmetic subset
    # (`doc['f'].value` refs, the script_fields grammar; an `emit(...)`
    # wrapper unwraps). The engine adds them as computed columns before
    # compile, so query/aggs/sort/script_fields all see them; queries
    # over runtime fields always take the scan plan (no index holds a
    # computed column). Engine subset: double/long/boolean types.
    runtime: tuple[tuple[str, str, str], ...] = ()
    # ES `post_filter` (r9): an extra filter applied to the HIT LIST
    # only — scores stay those of `query` alone (filter context), and
    # aggregations keep the pre-post_filter scope (the faceted-nav
    # idiom: aggs show all facets, hits show the selection). hits.total
    # reflects the post-filtered set, like ES.
    post_filter: Node | None = None
    # ES `track_total_hits` (r9): True = exact total (this engine's
    # default — DEVIATION from ES's default 10000-cap, documented),
    # False = no total in the metadata payload, int N = count accurately
    # up to N via a limit(N+1) early-terminating count and report
    # {"total_hits": N, "relation": "gte"} when the cap is hit
    # ("eq" otherwise)
    track_total_hits: "bool | int" = True
    # ES request-body `suggest` section (r9): carried RAW — the engine
    # routes it to SearchEngine.suggest_request(); search()/
    # search_aggs() typed-reject it rather than silently dropping it
    # (the everything-is-a-typed-error contract)
    suggest: Any = None
    # ES `_source` filtering (r6): None = full source (default), False =
    # metadata only (keys + _score), a tuple = that column subset (plus
    # keys/_score/highlight/script columns). ES include-list form only;
    # wildcard patterns and the excludes object are not supported
    # (documented).
    source_filter: "bool | tuple[str, ...] | None" = None
    # ES script_fields (r6): ((name, spark-sql-expr), ...) — the painless
    # arithmetic subset over `doc['field'].value` refs, translated at
    # parse time; each adds a response column computed on the ≤k hit rows
    # (requires the document columns, like highlight)
    script_fields: "tuple[tuple[str, str], ...]" = ()
    # ES rescore: (rescore-query AST, window_size, query_weight,
    # rescore_query_weight, score_mode) — the top window_size primary
    # hits re-score as combine(qw×primary, rw×secondary); window docs not
    # matching the rescore query score qw×primary; docs past the window
    # keep their raw primary score (ES contract). Incompatible with
    # sort/collapse/search_after, like ES.
    rescore: "tuple[Node, int, float, float, str] | None" = None


def parse(query_json: str | dict[str, Any]) -> tuple[Node, int | None]:
    """Parse an ES-DSL query; returns (AST, size-or-None)."""
    req = parse_request(query_json)
    return req.node, req.size


def parse_request(query_json: str | dict[str, Any]) -> Request:
    """Parse a full ES-DSL request body (query + size + sort +
    search_after + aggs)."""
    if isinstance(query_json, str):
        try:
            obj = json.loads(query_json)
        except json.JSONDecodeError as e:
            raise DslError(f"bad DSL JSON: {e}") from e
    else:
        obj = query_json
    if not isinstance(obj, dict):
        raise DslError("DSL root must be an object")
    # unknown top-level sections typed-reject (r9): a typo'd or
    # unimplemented section ("sorts", "profile", "timeout"…) silently
    # ignored would change results or promise behavior with no signal —
    # the same contract as the per-clause parameter audit
    unknown = set(obj) - {
        "query", "size", "from", "sort", "search_after", "aggs",
        "aggregations", "collapse", "highlight", "knn", "rescore",
        "_source", "fields", "docvalue_fields", "script_fields",
        "runtime_mappings",
        "min_score", "post_filter", "track_total_hits", "suggest",
        "retriever",
    }
    if unknown:
        raise DslError(f"unsupported request sections "
                       f"{sorted(unknown)} (engine subset)")
    # size parses BEFORE the retriever tree (r12): the retriever
    # rank_window_size default derives from it (ES defaults the window
    # to the request size and validates window >= size — a size=30
    # request fusing only each retriever's top-10 would return a
    # differently-ranked tail with no signal)
    size = obj.get("size")
    if size is not None and (not isinstance(size, int)
                             or isinstance(size, bool) or size < 0):
        raise DslError("size must be a non-negative integer")
    rrf = None
    if "retriever" in obj:
        # reciprocal rank fusion (r11): rank-based hybrid combination.
        # The retriever tree replaces the query/knn sections entirely;
        # the other ranking-affecting sections typed-reject (engine
        # subset — a silently-ignored sort/rescore would change the
        # fused ranking with no signal).
        other = set(obj) - {"retriever", "size", "_source"}
        if other:
            raise DslError(
                f"retriever cannot combine with {sorted(other)} "
                "(engine subset: retriever + size/_source only)")
        ret = obj["retriever"]
        if not isinstance(ret, dict) \
                or set(ret) not in ({"rrf"}, {"linear"}):
            raise DslError("retriever supports the 'rrf' and 'linear' "
                           "kinds (engine subset)")
        if "linear" in ret:
            # linear retriever (ES 8.16+): weighted sum of per-
            # retriever scores, optionally minmax-normalized within
            # each retriever's rank window
            spec = ret["linear"]
            if not isinstance(spec, dict) \
                    or not isinstance(spec.get("retrievers"), list) \
                    or len(spec["retrievers"]) < 2:
                raise DslError("linear needs {'retrievers': [two or "
                               "more sub-retrievers]}")
            extra_r = set(spec) - {"retrievers", "rank_window_size"}
            if extra_r:
                raise DslError(f"linear: unsupported parameters "
                               f"{sorted(extra_r)} (engine subset)")
            if len(spec["retrievers"]) > 8:
                raise DslError("linear supports at most 8 retrievers "
                               "(engine subset)")
            window = spec.get("rank_window_size")
            if window is None:
                window = max(10, size or 0)   # ES default: window = size
            if isinstance(window, bool) or not isinstance(window, int) \
                    or window < 1:
                raise DslError("linear rank_window_size must be a "
                               "positive integer")
            if size is not None and window < size:
                raise DslError("linear rank_window_size must be >= "
                               "size (ES contract)")
            lsubs = []
            for i, entry in enumerate(spec["retrievers"]):
                if not isinstance(entry, dict) \
                        or "retriever" not in entry:
                    raise DslError(
                        f"linear retrievers[{i}] needs "
                        "{'retriever': {...}, 'weight'?, "
                        "'normalizer'?}")
                extra_e = set(entry) - {"retriever", "weight",
                                        "normalizer"}
                if extra_e:
                    raise DslError(
                        f"linear retrievers[{i}]: unsupported keys "
                        f"{sorted(extra_e)}")
                w = entry.get("weight", 1.0)
                if isinstance(w, bool) \
                        or not isinstance(w, (int, float)) or w <= 0:
                    raise DslError(f"linear retrievers[{i}] weight "
                                   "must be a positive number")
                norm = str(entry.get("normalizer", "none"))
                if norm not in ("none", "minmax"):
                    raise DslError(
                        f"linear retrievers[{i}] normalizer must be "
                        "none/minmax (engine subset)")
                r = entry["retriever"]
                if not isinstance(r, dict) or len(r) != 1:
                    raise DslError(f"linear retrievers[{i}] retriever "
                                   "must be a single-kind object")
                (rk, rbody), = r.items()
                if rk == "standard":
                    if not isinstance(rbody, dict) \
                            or set(rbody) != {"query"}:
                        raise DslError(
                            f"linear retrievers[{i}]: standard takes "
                            "'query' only (engine subset)")
                    _node(rbody["query"])
                    sub = json.dumps({"query": rbody["query"]},
                                     sort_keys=True)
                elif rk == "knn":
                    if not isinstance(rbody, dict):
                        raise DslError(f"linear retrievers[{i}]: knn "
                                       "needs an object")
                    sub = json.dumps({"knn": rbody}, sort_keys=True)
                elif rk in ("rrf", "linear"):
                    # nested retriever tree (r12): one level, eager
                    # parse — see the rrf branch
                    if not isinstance(rbody, dict):
                        raise DslError(f"linear retrievers[{i}]: "
                                       f"{rk} needs an object")
                    inner = parse_request(
                        json.dumps({"retriever": {rk: rbody}}))
                    for sb in (inner.rrf[1] if rk == "rrf"
                               else [e[0] for e in inner.rrf[1]]):
                        if "retriever" in json.loads(sb):
                            raise DslError(
                                "retriever trees nest at most one "
                                "level (engine subset)")
                    sub = json.dumps({"retriever": {rk: rbody}},
                                     sort_keys=True)
                else:
                    raise DslError(
                        f"linear retrievers[{i}]: unsupported "
                        f"retriever kind {rk!r} (engine subset: "
                        "standard, knn, rrf, linear)")
                lsubs.append((sub, float(w), norm))
            rrf = ("linear", tuple(lsubs), window)
    if "retriever" in obj and rrf is None:
        spec = obj["retriever"]["rrf"]
        if not isinstance(spec, dict) \
                or not isinstance(spec.get("retrievers"), list) \
                or len(spec["retrievers"]) < 2:
            raise DslError("rrf needs {'retrievers': [two or more "
                           "sub-retrievers]}")
        extra_r = set(spec) - {"retrievers", "rank_constant",
                               "rank_window_size"}
        if extra_r:
            raise DslError(f"rrf: unsupported parameters "
                           f"{sorted(extra_r)} (engine subset)")
        if len(spec["retrievers"]) > 8:
            raise DslError("rrf supports at most 8 retrievers "
                           "(engine subset)")
        kconst = spec.get("rank_constant", 60)
        if isinstance(kconst, bool) or not isinstance(kconst, int) \
                or kconst < 1:
            raise DslError("rrf rank_constant must be a positive "
                           "integer")
        window = spec.get("rank_window_size")
        if window is None:
            window = max(10, size or 0)   # ES default: window = size
        if isinstance(window, bool) or not isinstance(window, int) \
                or window < 1:
            raise DslError("rrf rank_window_size must be a positive "
                           "integer")
        if size is not None and window < size:
            raise DslError("rrf rank_window_size must be >= size "
                           "(ES contract)")
        subs = []
        for i, r in enumerate(spec["retrievers"]):
            if not isinstance(r, dict) or len(r) != 1:
                raise DslError(f"rrf retrievers[{i}] must be a "
                               "single-kind object")
            (rk, rbody), = r.items()
            if rk == "standard":
                if not isinstance(rbody, dict) or "query" not in rbody:
                    raise DslError(f"rrf retrievers[{i}]: standard "
                                   "needs {'query': clause}")
                if set(rbody) != {"query"}:
                    raise DslError(
                        f"rrf retrievers[{i}]: standard takes 'query' "
                        "only (engine subset)")
                _node(rbody["query"])      # eager validation
                subs.append(json.dumps({"query": rbody["query"]},
                                       sort_keys=True))
            elif rk == "knn":
                if not isinstance(rbody, dict):
                    raise DslError(f"rrf retrievers[{i}]: knn needs "
                                   "an object")
                subs.append(json.dumps({"knn": rbody},
                                       sort_keys=True))
            elif rk in ("rrf", "linear"):
                # nested retriever tree (r12, ES 8.16): ONE extra
                # level — the sub body re-enters search() whole, so
                # its own fusion serves every plan path; the nested
                # spec parses EAGERLY here (typed errors surface at
                # the outer request), and a further nesting level
                # inside it rejects below
                if not isinstance(rbody, dict):
                    raise DslError(f"rrf retrievers[{i}]: {rk} needs "
                                   "an object")
                inner = parse_request(
                    json.dumps({"retriever": {rk: rbody}}))
                for sb in (inner.rrf[1] if rk == "rrf"
                           else [e[0] for e in inner.rrf[1]]):
                    if "retriever" in json.loads(sb):
                        raise DslError(
                            "retriever trees nest at most one level "
                            "(engine subset)")
                subs.append(json.dumps({"retriever": {rk: rbody}},
                                       sort_keys=True))
            else:
                raise DslError(
                    f"rrf retrievers[{i}]: unsupported retriever kind "
                    f"{rk!r} (engine subset: standard, knn, rrf, "
                    "linear)")
        rrf = ("rrf", tuple(subs), kconst, window)
    from_ = obj.get("from", 0)
    if not isinstance(from_, int) or from_ < 0:
        raise DslError("from must be a non-negative integer")
    min_score = obj.get("min_score")
    if min_score is not None:
        if isinstance(min_score, bool) \
                or not isinstance(min_score, (int, float)):
            raise DslError("min_score must be numeric")
        min_score = float(min_score)
    pf = obj.get("post_filter")
    if pf is not None and not isinstance(pf, dict):
        raise DslError("post_filter must be a query object")
    tth = obj.get("track_total_hits", True)
    if not isinstance(tth, bool):
        if not isinstance(tth, int) or tth < 0:
            raise DslError(
                "track_total_hits must be a boolean or a non-negative "
                "integer")
    query = obj.get("query", {"match_all": {}})
    nested_inner = None
    nested_inner_sort = None
    if isinstance(query, dict) and set(query) == {"nested"} \
            and isinstance(query["nested"], dict) \
            and "inner_hits" in query["nested"]:
        # ES nested inner_hits (r8): supported on a TOP-LEVEL nested
        # query (the "show why the parent matched" idiom) — popped here
        # so _node's nested branch stays inner_hits-free; a deeper
        # nested clause carrying inner_hits is rejected there
        nbody = dict(query["nested"])
        ih = nbody.pop("inner_hits")
        if not isinstance(ih, dict):
            raise DslError("nested inner_hits must be an object")
        ihx = set(ih) - {"size", "sort"}
        if ihx:
            raise DslError(f"nested inner_hits: unsupported parameters "
                           f"{sorted(ihx)} (engine subset)")
        if "sort" in ih:
            # r13: custom element sort — ONE entry over an element
            # field (the path-dotted form), asc or desc; the per-row
            # sort_array ranking keeps the no-window shape. Ties follow
            # element struct order (asc) / its reverse (desc) —
            # deterministic; element nulls sort first asc / last desc
            # (sort_array semantics; documented deviation from ES's
            # missing-last default).
            srt = _sort(ih["sort"])
            if len(srt) != 1 or isinstance(srt[0][0], GeoSort):
                raise DslError(
                    "nested inner_hits sort takes exactly one plain "
                    "field entry (engine subset)")
            sfld, sasc, _ = srt[0]
            path = str(nbody.get("path", ""))
            if not sfld.startswith(path + "."):
                raise DslError(
                    f"nested inner_hits sort field {sfld!r} must be "
                    f"an element field under the nested path "
                    f"({path}.<field>)")
            nested_inner_sort = (sfld[len(path) + 1:], sasc)
        isz = ih.get("size", 3)
        if not isinstance(isz, int) or isinstance(isz, bool) \
                or isz <= 0:
            raise DslError(
                "nested inner_hits size must be a positive integer")
        nested_inner = isz
        query = {"nested": nbody}
    after = obj.get("search_after")
    if after is not None:
        if not isinstance(after, list) or not after:
            raise DslError("search_after must be a non-empty list")
        after = tuple(after)
    collapse = None
    collapse_inner = None
    collapse_inner_sort: tuple = ()
    cspec = obj.get("collapse")
    if cspec is not None:
        if not isinstance(cspec, dict) or "field" not in cspec:
            raise DslError("collapse needs {'field': name}")
        c_extra = set(cspec) - {"field", "inner_hits"}
        if c_extra:
            raise DslError(f"collapse: unsupported parameters "
                           f"{sorted(c_extra)} (engine subset)")
        collapse = cspec["field"]
        ih = cspec.get("inner_hits")
        if ih is not None:
            # ES collapse inner_hits (r6): each collapsed group expands
            # to its top `size` member rows, ranked by the PRIMARY
            # ordering and tagged `_inner_rank` (flattened surface; a
            # custom inner sort is not supported — documented)
            if not isinstance(ih, dict):
                raise DslError("collapse inner_hits must be an object")
            if "sort" in ih:
                # r13: custom inner sort — group members rank by this
                # ordering instead of the primary (ES inner_hits sort);
                # plain fields + _score only (geo sorts typed-reject)
                collapse_inner_sort = _sort(ih["sort"])
                if any(isinstance(f, GeoSort)
                       for f, *_ in collapse_inner_sort):
                    raise DslError(
                        "collapse inner_hits sort does not take "
                        "_geo_distance entries (engine subset)")
            ih_extra = set(ih) - {"size", "sort"}
            if ih_extra:
                raise DslError(
                    f"collapse inner_hits: unsupported parameters "
                    f"{sorted(ih_extra)} (engine subset)")
            isz = ih.get("size", 3)
            if not isinstance(isz, int) or isinstance(isz, bool)                     or isz <= 0:
                raise DslError(
                    "collapse inner_hits size must be a positive "
                    "integer")
            collapse_inner = isz
    highlight: tuple[tuple[str, str, str, int, int, int], ...] = ()
    hspec = obj.get("highlight")
    if hspec is not None:
        if not isinstance(hspec, dict) \
                or not isinstance(hspec.get("fields"), dict) \
                or not hspec["fields"]:
            raise DslError(
                "highlight needs a non-empty {'fields': {name: {...}}}")
        _H_KEYS = {"pre_tags", "post_tags", "number_of_fragments",
                   "fragment_size", "no_match_size"}
        h_extra = set(hspec) - _H_KEYS - {"fields"}
        if h_extra:
            # no silent drops (r11): a vanished `type`/`highlight_query`
            # would change the emitted fragments with no signal
            raise DslError(f"highlight: unsupported parameters "
                           f"{sorted(h_extra)} (engine subset)")

        def tag(spec: dict, key: str, default: str) -> str:
            raw = spec.get(key)
            if raw is None:
                return default
            if not isinstance(raw, list) or len(raw) != 1 \
                    or not isinstance(raw[0], str):
                # ES supports tag ARRAYS for multi-level highlighting;
                # the engine's single-pass replace takes exactly one
                raise DslError(f"{key} must be a one-element string list")
            return raw[0]

        def num(spec: dict, key: str, default: int, floor: int) -> int:
            raw = spec.get(key, default)
            if not isinstance(raw, int) or isinstance(raw, bool) \
                    or raw < floor:
                raise DslError(f"{key} must be an integer >= {floor}")
            return raw

        g_pre = tag(hspec, "pre_tags", "<em>")
        g_post = tag(hspec, "post_tags", "</em>")
        g_nf = num(hspec, "number_of_fragments", 5, 0)
        g_fs = num(hspec, "fragment_size", 100, 1)
        # ES no_match_size (r13): when the field carries no match,
        # return its leading N chars as the (unwrapped) snippet
        # instead of omitting the field; 0 (default) = omit
        g_nm = num(hspec, "no_match_size", 0, 0)
        out: list[tuple[str, str, str, int, int, int]] = []
        for fld, fbody in hspec["fields"].items():
            if fbody is None:
                fbody = {}
            if not isinstance(fbody, dict):
                raise DslError(f"highlight field {fld!r} must be an object")
            f_extra = set(fbody) - _H_KEYS
            if f_extra:
                raise DslError(
                    f"highlight field {fld!r}: unsupported parameters "
                    f"{sorted(f_extra)} (engine subset)")
            out.append((fld, tag(fbody, "pre_tags", g_pre),
                        tag(fbody, "post_tags", g_post),
                        num(fbody, "number_of_fragments", g_nf, 0),
                        num(fbody, "fragment_size", g_fs, 1),
                        num(fbody, "no_match_size", g_nm, 0)))
        highlight = tuple(out)
    knn = None
    kspec = obj.get("knn")
    if kspec is not None:
        if isinstance(kspec, list):
            if len(kspec) != 1:
                raise DslError("exactly one knn section is supported")
            kspec = kspec[0]
        if not isinstance(kspec, dict) or "field" not in kspec \
                or not isinstance(kspec.get("query_vector"), list) \
                or not kspec["query_vector"]:
            raise DslError(
                "knn needs {'field': name, 'query_vector': [...], "
                "'k': int}")
        kk = kspec.get("k", 10)
        if not isinstance(kk, int) or kk <= 0:
            raise DslError("knn k must be a positive integer")
        if not all(isinstance(v, (int, float))
                   for v in kspec["query_vector"]):
            raise DslError("knn query_vector must be numeric")
        kfilter = _node(kspec["filter"]) if "filter" in kspec else None
        # ES 8.4+ hybrid search: a knn section BESIDE a query section —
        # the hit set is the union, scores SUM where a doc appears in
        # both (r6; previously rejected)
        hybrid = "query" in obj
        ksim = kspec.get("similarity")
        if ksim is not None:
            if isinstance(ksim, bool) or not isinstance(ksim, (int, float)):
                raise DslError("knn similarity must be numeric")
            ksim = float(ksim)
        kboost = kspec.get("boost", 1.0)
        if isinstance(kboost, bool) or not isinstance(kboost, (int, float)):
            raise DslError("knn boost must be numeric")
        kboost = float(kboost)
        method = kspec.get("method")
        if method is not None and method not in ("exact", "ivf", "lsh"):
            raise DslError("knn method must be 'exact', 'ivf' or 'lsh'")
        ncand = kspec.get("num_candidates")
        if ncand is not None and (not isinstance(ncand, int)
                                  or isinstance(ncand, bool)
                                  or ncand < kk):
            raise DslError("knn num_candidates must be an integer >= k")
        nprobe = kspec.get("nprobe")
        if nprobe is not None and (not isinstance(nprobe, int)
                                   or isinstance(nprobe, bool)
                                   or nprobe <= 0):
            raise DslError("knn nprobe must be a positive integer")
        # param allowlist (r12 — an unknown knn key was previously a
        # silent no-op; query_vector_builder now rejects typed, it
        # needs a model)
        k_extra2 = set(kspec) - {"field", "query_vector", "k",
                                 "filter", "similarity", "boost",
                                 "method", "num_candidates", "nprobe",
                                 "rescore_vector"}
        if k_extra2:
            raise DslError(f"knn: unsupported params "
                           f"{sorted(k_extra2)} (engine subset)")
        # ES 8.17 rescore_vector (r12): oversample × k candidates via
        # the int8-quantized dot-product prefilter, exact-cosine
        # re-rank to k — the quantized-index rescore idiom
        rv_over = None
        rv = kspec.get("rescore_vector")
        if rv is not None:
            if not isinstance(rv, dict) or set(rv) != {"oversample"}:
                raise DslError(
                    "knn rescore_vector needs {'oversample': number}")
            ov = rv["oversample"]
            if isinstance(ov, bool) or not isinstance(ov, (int, float)) \
                    or not 1.0 <= float(ov) <= 10.0:
                raise DslError("knn rescore_vector oversample must be "
                               "a number in [1, 10] (ES contract)")
            rv_over = float(ov)
            if method not in (None, "exact"):
                raise DslError(
                    "knn rescore_vector combines with the exact "
                    "method only (engine subset: the ANN routes "
                    "already re-rank candidates by exact cosine)")
        knn = (str(kspec["field"]),
               tuple(float(v) for v in kspec["query_vector"]), kk,
               kfilter, method, ncand, nprobe, hybrid, ksim, kboost,
               rv_over)
    rescore = None
    rspec = obj.get("rescore")
    if rspec is not None:
        if isinstance(rspec, list):
            if len(rspec) != 1:
                raise DslError("exactly one rescore stage is supported")
            rspec = rspec[0]
        if not isinstance(rspec, dict) or not isinstance(
                rspec.get("query"), dict) \
                or "rescore_query" not in rspec["query"]:
            raise DslError(
                "rescore needs {'query': {'rescore_query': clause}}")
        r_extra = set(rspec) - {"query", "window_size"}
        if r_extra:
            raise DslError(f"rescore: unsupported parameters "
                           f"{sorted(r_extra)} (engine subset)")
        rq = rspec["query"]
        rq_extra = set(rq) - {"rescore_query", "score_mode",
                              "query_weight", "rescore_query_weight"}
        if rq_extra:
            raise DslError(f"rescore query: unsupported parameters "
                           f"{sorted(rq_extra)} (engine subset)")
        mode = str(rq.get("score_mode", "total"))
        if mode not in ("total", "multiply", "avg", "max", "min"):
            raise DslError(f"unknown rescore score_mode {mode!r}")
        window = rspec.get("window_size", 10)
        if not isinstance(window, int) or window <= 0:
            raise DslError("rescore window_size must be a positive integer")
        try:
            qw = float(rq.get("query_weight", 1.0))
            rw = float(rq.get("rescore_query_weight", 1.0))
        except (TypeError, ValueError) as e:
            raise DslError("rescore weights must be numeric") from e
        rescore = (_node(rq["rescore_query"]), window, qw, rw, mode)
    source_filter: bool | tuple[str, ...] | None = None
    srcspec = obj.get("_source")
    if srcspec is not None and srcspec is not True:
        if srcspec is False:
            source_filter = False
        elif isinstance(srcspec, str):
            source_filter = (srcspec,)
        elif isinstance(srcspec, list) and srcspec \
                and all(isinstance(x, str) for x in srcspec):
            source_filter = tuple(srcspec)
        else:
            raise DslError(
                "_source must be a boolean, a field name, or a "
                "non-empty field-name list")
        # `*` glob patterns (r11) expand against the RESULT columns in
        # the engine (apply_source_filter) — the parse is table-blind
    fspec = obj.get("fields")
    if fspec is not None:
        # ES 8 `fields` retrieval: the engine's flattened response has
        # ONE projection surface, so a plain field-name list maps onto
        # the _source filter (documented; ES returns a separate
        # `fields` section beside _source). Object entries carry
        # `format` — per-field formatting is not supported (typed), and
        # combining with an explicit _source filter would need two
        # projections (typed).
        if source_filter is not None:
            raise DslError("'fields' cannot combine with a '_source' "
                           "filter (one projection surface — engine "
                           "subset)")
        if not isinstance(fspec, list) or not fspec or not all(
                isinstance(x, str) for x in fspec):
            raise DslError(
                "fields must be a non-empty list of field names "
                "(object entries carry 'format' — per-field "
                "formatting is not supported, engine subset)")
        # `*` glob patterns (r11) expand like _source's — in the engine
        source_filter = tuple(fspec)
    dvspec = obj.get("docvalue_fields")
    if dvspec is not None:
        # ES `docvalue_fields` (r12): the third field-retrieval idiom —
        # same one-projection mapping as `fields` (documented; ES
        # returns doc-values formatted, which for the engine's typed
        # columns is the stored value). Object entries carry `format`
        # (typed-reject like fields'); combining with fields/_source
        # would need two projections (typed).
        if source_filter is not None:
            raise DslError(
                "'docvalue_fields' cannot combine with 'fields' or a "
                "'_source' filter (one projection surface — engine "
                "subset)")
        if not isinstance(dvspec, list) or not dvspec or not all(
                isinstance(x, str) for x in dvspec):
            raise DslError(
                "docvalue_fields must be a non-empty list of field "
                "names (object entries carry 'format' — per-field "
                "formatting is not supported, engine subset)")
        source_filter = tuple(dvspec)
    script_fields: tuple[tuple[str, str], ...] = ()
    sfspec = obj.get("script_fields")
    if sfspec is not None:
        if not isinstance(sfspec, dict) or not sfspec:
            raise DslError("script_fields must be a non-empty object")
        out_sf = []
        for sname, sbody in sfspec.items():
            if not isinstance(sbody, dict) or "script" not in sbody:
                raise DslError(f"script field {sname!r} needs a 'script'")
            sb = sbody["script"]
            src = sb.get("source") if isinstance(sb, dict) else sb
            if not isinstance(src, str):
                raise DslError(f"script field {sname!r}: script source "
                               "must be a string")
            out_sf.append((str(sname), _compile_doc_script(sname, src)))
        if len({n for n, _ in out_sf}) != len(out_sf):
            raise DslError("duplicate script_fields names")
        script_fields = tuple(out_sf)
    runtime: tuple[tuple[str, str, str], ...] = ()
    rmspec = obj.get("runtime_mappings")
    if rmspec is not None:
        if not isinstance(rmspec, dict) or not rmspec:
            raise DslError("runtime_mappings must be a non-empty object")
        out_rm = []
        for rname, rbody in rmspec.items():
            if not isinstance(rbody, dict):
                raise DslError(f"runtime field {rname!r} must be an "
                               "object")
            rtype = rbody.get("type")
            if rtype not in _RUNTIME_TYPES:
                raise DslError(
                    f"runtime field {rname!r}: type must be one of "
                    f"{', '.join(sorted(_RUNTIME_TYPES))} (engine "
                    f"subset — arithmetic scripts), got {rtype!r}")
            rb = rbody.get("script")
            src = rb.get("source") if isinstance(rb, dict) else rb
            if not isinstance(src, str):
                raise DslError(f"runtime field {rname!r} needs a "
                               "'script' with a string source")
            m = _re.fullmatch(r"\s*emit\s*\((.*)\)\s*;?\s*", src,
                              _re.DOTALL)
            if m is not None:
                src = m.group(1)
            out_rm.append((str(rname), _RUNTIME_TYPES[rtype],
                           _compile_doc_script(rname, src)))
        if len({n for n, *_ in out_rm}) != len(out_rm):
            raise DslError("duplicate runtime field names")
        runtime = tuple(out_rm)
    if nested_inner is not None and collapse_inner is not None:
        raise DslError(
            "nested inner_hits and collapse inner_hits cannot combine "
            "(both flatten an _inner_rank surface)")
    return Request(
        node=_node(query),
        size=size,
        from_=from_,
        aggs=_aggs(obj.get("aggs", obj.get("aggregations"))),
        sort=_sort(obj.get("sort")),
        search_after=after,
        collapse=collapse,
        collapse_inner=collapse_inner,
        collapse_inner_sort=collapse_inner_sort,
        nested_inner=nested_inner,
        nested_inner_sort=nested_inner_sort,
        highlight=highlight,
        rescore=rescore,
        knn=knn,
        script_fields=script_fields,
        source_filter=source_filter,
        min_score=min_score,
        runtime=runtime,
        post_filter=_node(pf) if pf is not None else None,
        track_total_hits=tth,
        suggest=obj.get("suggest"),
        rrf=rrf,
    )


@dataclass(frozen=True)
class GeoSort:
    """An ES ``_geo_distance`` sort entry: order hits by haversine
    distance from one origin point. The computed distance (in the
    requested ``unit``) surfaces as a ``_geo_distance`` response column
    — ES returns it as the hit's sort value; a flat frame carries it as
    a column — which also makes it the ``search_after``/scroll anchor.
    Docs with a NULL point sort as infinitely far (ES: missing geo =
    Infinity), i.e. last ascending / first descending. Engine subset
    (documented, typed errors): ONE origin point, ONE geo sort entry
    per request, ``distance_type`` arc only, no ``mode``."""
    field: str
    lat: float
    lon: float
    unit_m: float = 1.0     # meters per requested unit


_GEO_SORT_PARAMS = {"order", "unit", "distance_type", "mode",
                    "ignore_unmapped"}


def _geo_sort(body: Any) -> tuple[GeoSort, bool, bool]:
    if not isinstance(body, dict):
        raise DslError(f"_geo_distance sort needs an object, got {body!r}")
    fields = [k for k in body if k not in _GEO_SORT_PARAMS]
    if len(fields) != 1:
        raise DslError("_geo_distance sort needs exactly one geo field, "
                       f"got {fields!r}")
    fld = fields[0]
    if isinstance(body[fld], list) and body[fld] \
            and isinstance(body[fld][0], (list, dict)):
        raise DslError("_geo_distance sort: multiple origin points are "
                       "not supported (engine subset)")
    lat, lon = _geo_point(body[fld], "_geo_distance sort")
    order = body.get("order", "asc")
    if order not in ("asc", "desc"):
        raise DslError(f"sort order must be asc/desc, got {order!r}")
    if body.get("distance_type", "arc") != "arc":
        raise DslError("_geo_distance sort: only distance_type 'arc' "
                       "is supported (engine subset)")
    if "mode" in body:
        raise DslError("_geo_distance sort: 'mode' is not supported "
                       "(single-point fields — engine subset)")
    unit = body.get("unit", "m")
    from cassandra_es_index_spark.functions.geo import _UNITS
    if unit not in _UNITS:
        raise DslError(f"_geo_distance sort: unknown unit {unit!r}")
    asc = order == "asc"
    # missing geo point = Infinity distance (ES): nulls trail ascending
    # and lead descending
    return (GeoSort(field=fld, lat=lat, lon=lon, unit_m=_UNITS[unit]),
            asc, not asc)


def _sort(spec: Any) -> tuple[tuple[str, bool, bool], ...]:
    """ES sort forms: ``"f"``, ``{"f": "desc"}``, ``{"f": {"order":
    "desc"}}``, ``{"_geo_distance": {...}}`` (→ :class:`GeoSort`), or a
    list of those. Defaults: ascending (``_score``: descending, like
    ES). Null placement follows ES: ``missing`` defaults to ``_last``
    for BOTH directions (docs without the sort field trail), and
    ``"_first"``/``"_last"`` overrides it."""
    if spec is None:
        return ()
    if not isinstance(spec, list):
        spec = [spec]
    out: list[tuple[str, bool, bool]] = []
    for entry in spec:
        if isinstance(entry, str):
            asc = entry != "_score"
            out.append((entry, asc, False))
            continue
        if isinstance(entry, dict) and len(entry) == 1:
            (fld, body), = entry.items()
            if fld == "_geo_distance":
                out.append(_geo_sort(body))
                continue
            missing = None
            if isinstance(body, str):
                order = body
            elif isinstance(body, dict):
                s_extra = set(body) - {"order", "missing"}
                if s_extra:
                    # no silent drops (r11): a vanished `mode`/
                    # `unmapped_type`/`format` would reorder results
                    raise DslError(
                        f"sort on {fld!r}: unsupported parameters "
                        f"{sorted(s_extra)} (engine subset)")
                order = body.get("order", "desc" if fld == "_score" else "asc")
                missing = body.get("missing")
            else:
                raise DslError(f"bad sort entry: {entry!r}")
            if order not in ("asc", "desc"):
                raise DslError(f"sort order must be asc/desc, got {order!r}")
            asc = order == "asc"
            if missing is None:
                nulls_first = False   # ES default `missing: _last`
            elif missing in ("_first", "_last"):
                nulls_first = missing == "_first"
            else:
                raise DslError(
                    f"sort missing must be _first/_last, got {missing!r}")
            out.append((fld, asc, nulls_first))
            continue
        raise DslError(f"bad sort entry: {entry!r}")
    if sum(isinstance(f, GeoSort) for f, *_ in out) > 1:
        raise DslError("at most one _geo_distance sort entry per request "
                       "(engine subset: one _geo_distance response "
                       "column)")
    return tuple(out)


# ------------------------------------------------------ clause parameters
#
# Every query clause declares its parameters as a spec: key → tag, where
# a tag names the accepted JSON shape and carries the key's default. One
# validator, `_params`, checks a clause's parameter object against its
# spec (after ES's ObjectParser): unknown keys and wrong types are typed
# errors, never silently dropped or stringified. A key whose default is
# None treats an explicit null as absent; `_NO_NULL` marks an optional
# key that reads None when absent but checks an explicit null.

_REQ = object()          # default of a required key
_NO_NULL = object()      # optional without a default; null is checked


@dataclass(frozen=True)
class _Tag:
    """One accepted parameter shape: ``check`` returns the checked (and
    coerced) value or raises TypeError/ValueError."""
    desc: str
    check: Callable[[Any], Any]
    default: Any = None

    def __call__(self, default: Any) -> "_Tag":
        return _dc_replace(self, default=default)


def _tag(desc: str, ok: Callable[[Any], Any],
         conv: Callable[[Any], Any] | None = None) -> _Tag:
    def check(v: Any) -> Any:
        if not ok(v):
            raise ValueError(v)
        return v if conv is None else conv(v)
    return _Tag(desc, check)


def _is_int(v: Any) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _is_num(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _int_min(lo: float, hi: float = math.inf) -> _Tag:
    what = {0: "a non-negative integer", 1: "a positive integer",
            -math.inf: "an integer"}
    return _tag(what.get(lo, f"an integer >= {lo}") if hi == math.inf
                else f"an integer in [{lo}, {hi}]",
                lambda v: _is_int(v) and lo <= v <= hi)


def _number(lo: float = -math.inf, hi: float = math.inf, *,
            lo_open: bool = False, hi_open: bool = False,
            strings: bool = False, keep: bool = False) -> _Tag:
    """A JSON number (never a boolean) within the bounds, read as a
    float unless ``keep``; ``strings`` also reads numeric strings, as
    ``boost`` always has."""
    def ok(v: Any) -> bool:
        f = float(v) if strings and isinstance(v, str) else v
        return _is_num(f) and (lo < f if lo_open else lo <= f) \
            and (f < hi if hi_open else f <= hi)
    desc = ("numeric" if (lo, hi) == (-math.inf, math.inf)
            else f"a number {'>' if lo_open else '>='} {lo}"
            if hi == math.inf
            else f"a number in {'(' if lo_open else '['}{lo}, {hi}"
                 f"{')' if hi_open else ']'}")
    return _tag(desc, ok, None if keep else float)


def _enum(*choices: str, fold: bool = False, desc: str = "") -> _Tag:
    """One of ``choices``; ``fold`` matches case-insensitively and
    returns the lowercased value."""
    def check(v: Any) -> str:
        if not isinstance(v, str) or (v.lower() if fold else v) \
                not in choices:
            raise ValueError(v)
        return v.lower() if fold else v
    return _Tag(desc or f"one of {list(choices)}", check)


def _clauses(v: Any) -> tuple[Node, ...]:
    if not isinstance(v, list) or not v:
        raise ValueError(v)
    return tuple(_node(q) for q in v)


BOOL = _tag("a boolean", lambda v: isinstance(v, bool))
INT0 = _int_min(0)
INT1 = _int_min(1)
NUM = _number(strings=True)
STR = _tag("a string", lambda v: isinstance(v, str))
NAME = _tag("a non-empty string", lambda v: isinstance(v, str) and v)
SCALAR = _tag("a scalar (string, number or boolean)",
              lambda v: isinstance(v, (str, int, float)))
SCALARS = _tag("a list of strings, numbers or booleans",
               lambda v: isinstance(v, list) and all(
                   isinstance(x, (str, int, float)) for x in v))
FIELDS = _tag("a non-empty list of field names",
              lambda v: isinstance(v, list) and v
              and all(isinstance(f, str) for f in v))
OBJECT = _tag("an object", lambda v: isinstance(v, dict))
LIST = _tag("a list", lambda v: isinstance(v, list))
CLAUSE = _Tag("a query clause", lambda v: _node(v))
CLAUSES = _Tag("a non-empty list of query clauses", _clauses)
# bool's must/filter/should/must_not: one clause or a list (maybe empty)
CLAUSE_LIST = _Tag("a query clause or a list of clauses",
                   lambda v: tuple(_node(q) for q in _as_list(v)))
# the analyzed-text model lowercases both sides by construction, so
# case-SENSITIVE matching is not expressible (documented)
TRUE = _tag("true (case_insensitive=false is not supported — the "
            "engine's analyzed-text model matches case-insensitively by "
            "construction)", lambda v: v is True)
# accepted no-op: `rewrite` / `max_determinized_states` only pick ES's
# internal strategy, never the match set; also the pass-through for
# sub-bodies that their own parser checks
ANY = _Tag("any value", lambda v: v)
FUZZINESS = _Tag("0, 1, 2, 'AUTO' or 'AUTO:low,high'",
                 lambda v: _fuzziness_edits(v))
MSM = _tag("an integer or a minimum_should_match string",
           lambda v: _is_int(v) or isinstance(v, str))
FALSE = _tag("false (an unregistered relation is a typed error by "
             "design)", lambda v: v is False)
_ZTQ = _enum("none", "all", fold=True, desc="'none' or 'all' (ES contract)")


def _script_source(v: Any) -> str:
    """The source of a script: a string or ``{"source": str, ...}``."""
    src = v.get("source") if isinstance(v, dict) else v
    if not isinstance(src, str) or not src.strip():
        raise ValueError(v)
    return src


_SCRIPT = _Tag("a script source string or {'source': str}",
               _script_source)


def _params(kind: str, obj: Any, spec: dict[str, _Tag],
            usage: str | None = None, *,
            what: str = "unsupported parameters",
            note: str = "engine subset") -> dict[str, Any]:
    """Check a clause's parameter object against its spec and return
    every key's checked value (or default). A non-object or a missing
    required key raises ``"{kind} needs {usage}"`` (by default: an
    object / the missing key)."""
    if not isinstance(obj, dict):
        raise DslError(f"{kind} needs {usage or 'an object'}")
    extra = set(obj) - set(spec)
    if extra:
        raise DslError(f"{kind}: {what} {sorted(extra)} ({note})")
    out: dict[str, Any] = {}
    for key, tag in spec.items():
        if key not in obj and tag.default is _REQ:
            raise DslError(f"{kind} needs {usage or repr(key)}")
        if key not in obj or obj[key] is None and tag.default is None:
            out[key] = None if tag.default is _NO_NULL else tag.default
            continue
        try:
            out[key] = tag.check(obj[key])
        except DslError:
            raise
        except (TypeError, ValueError) as e:
            raise DslError(f"{kind}: {key} must be {tag.desc}") from e
    return out


def _leaf(kind: str, body: Any, value_key: str, spec: dict[str, _Tag],
          **kw: str) -> tuple[str, dict[str, Any]]:
    """(field, params) of a leaf clause in either ES form:
    ``{field: value}`` or ``{field: {value_key: value, ...params}}``."""
    field, value = _single(body)
    if not isinstance(value, dict):
        value = {value_key: value}
    return field, _params(kind, value, spec, **kw)


def _beside(kind: str, body: Any, spec: dict[str, _Tag],
            usage: str) -> tuple[str, Any, dict[str, Any]]:
    """(field, value, params) of ``{field: value, **params}`` — the
    layout where ES puts ``boost`` (and geo_distance its ``distance``)
    beside the field key."""
    if not isinstance(body, dict):
        raise DslError(f"{kind} needs {usage}")
    given = {k: v for k, v in body.items() if k in spec} \
        if len(body) > 1 else {}
    rest = [k for k in body if k not in given]
    if len(rest) != 1:
        raise DslError(f"{kind} needs exactly one field besides "
                       f"{sorted(spec)}, got {rest}")
    return rest[0], body[rest[0]], _params(kind, given, spec, usage)


def _field_boosts(kind: str,
                  fields: list[str]) -> list[tuple[str, float | None]]:
    """``["title^2", "body"]`` → ``[("title", 2.0), ("body", None)]``."""
    out: list[tuple[str, float | None]] = []
    for f in fields:
        name, caret, fb = f.partition("^")
        try:
            out.append((name, float(fb) if caret else None))
        except ValueError as e:
            raise DslError(f"bad {kind} field boost {fb!r}") from e
    return out


def _join(op: str, nodes: list[Node]) -> Node:
    """One node, or the nodes under And (``op == "and"``) / Or."""
    if len(nodes) == 1:
        return nodes[0]
    return And(tuple(nodes)) if op == "and" else Or(tuple(nodes))


# ------------------------------------------------- query-clause builders

_BUILDERS: dict[str, Callable[[Any], Node]] = {}
_SPECS: dict[str, dict[str, _Tag]] = {}


def _query(*kinds: str, **spec: _Tag):
    """Register the decorated ``build(kind, body, spec)`` as the builder
    of each of ``kinds``, declaring ``spec`` as its parameters."""
    def register(build):
        for kind in kinds:
            _BUILDERS[kind] = functools.partial(build, kind, spec=spec)
            _SPECS[kind] = spec
        return build
    return register


def _node(q: dict[str, Any]) -> Node:
    if not isinstance(q, dict) or len(q) != 1:
        raise DslError(f"query clause must have exactly one key: {q!r}")
    (kind, body), = q.items()
    build = _BUILDERS.get(kind)
    if build is None:
        raise DslError(f"unsupported DSL clause {kind!r}")
    return build(body)


@_query("match_all", "match_none", boost=NUM)
def _match_all(kind: str, body: Any, spec: dict) -> Node:
    # boost is an accepted no-op: match_all scores 0 by the pinned
    # engine convention, match_none matches nothing
    _params(kind, body, spec)
    return MatchAll() if kind == "match_all" else MatchNone()


@_query("term", value=SCALAR(_REQ), boost=NUM, case_insensitive=TRUE)
def _term(kind: str, body: Any, spec: dict) -> Node:
    field, p = _leaf(kind, body, "value", spec)
    return _boosted(Term(field, _scalar(p["value"])), p["boost"])


_LOOKUP = dict(index=STR(_REQ), path=STR(_REQ), id=_tag(
    "a string or an integer",
    lambda v: isinstance(v, str) or _is_int(v))(_REQ))


@_query("terms", boost=NUM)
def _terms(kind: str, body: Any, spec: dict) -> Node:
    # ES terms boost rides BESIDE the field key:
    # {"terms": {f: [...], "boost": b}} (r11)
    field, values, p = _beside(kind, body, spec, "{field: [values]}")
    if isinstance(values, dict):
        # ES terms lookup: the list lives in another document
        # ({"index", "id", "path"}, optional "routing" rejected —
        # single-engine, no routing); resolved by the engine before
        # compile (ast.TermsLookup). The beside-the-field boost
        # applies to the lookup form too (r12).
        lk = _params("terms lookup", values, _LOOKUP,
                     "'index'/'path' strings and a string-or-int 'id'",
                     what="unsupported keys",
                     note="engine subset: index/id/path")
        return _boosted(TermsLookup(field, lk["index"], str(lk["id"]),
                                    lk["path"]), p["boost"])
    values = _params(kind, {"values": values},
                     {"values": SCALARS(_REQ)})["values"]
    if not values:
        # ES: empty terms list is a valid match-no-docs query
        return MatchNone()
    return _boosted(Or(tuple(Term(field, _scalar(v)) for v in values)),
                    p["boost"])


@_query("match", query=SCALAR(_REQ), fuzziness=FUZZINESS, boost=NUM,
        operator=_enum("or", "and", desc="or/and")("or"),
        minimum_should_match=MSM, fuzzy_transpositions=BOOL(False),
        prefix_length=INT0(0), zero_terms_query=_ZTQ)
def _match(kind: str, body: Any, spec: dict) -> Node:
    # match = analyzed OR-of-tokens over one field (AND with
    # `operator: and`); with `fuzziness` each token matches within the
    # edit budget (ES match+fuzziness); `minimum_should_match` floors
    # the count of distinct matching terms (CoveringQuery — the
    # TermsSet machinery, Σ-matched-tf score)
    field, p = _leaf(kind, body, "query", spec)
    edits, msm = p["fuzziness"], p["minimum_should_match"]
    given = _single(body)[1]
    # fuzzy modifiers without fuzziness do nothing in ES — the engine
    # rejects the inoperative combination instead (no silent drops)
    if edits is None and isinstance(given, dict) and (
            "fuzzy_transpositions" in given or "prefix_length" in given):
        raise DslError(
            "match: fuzzy_transpositions/prefix_length are "
            "inoperative without fuzziness (this engine rejects the "
            "combination)")
    tokens = str(p["query"]).split()
    if not tokens:
        # ES zero_terms_query: empty/whitespace text analyzes to zero
        # tokens → MatchNoDocs by default; 'all' (r11) flips to
        # match_all (the stopword-analyzer escape hatch)
        return MatchAll() if p["zero_terms_query"] == "all" \
            else MatchNone()
    if msm is not None:
        if p["operator"] == "and":
            # ES silently ignores msm under operator=and; the engine
            # rejects the combination instead (documented)
            raise DslError("match: minimum_should_match is inoperative "
                           "with operator 'and' (ES ignores it; this "
                           "engine rejects the combination)")
        if edits is not None:
            raise DslError("match: minimum_should_match with fuzziness "
                           "is not supported (engine subset — the "
                           "covering count is over exact terms)")
        terms = tuple(dict.fromkeys(t.lower() for t in tokens))
        count = _msm_count(msm, len(terms), "match")
        return _boosted(TermsSet(field, terms, msm_expr=str(count)),
                        p["boost"])
    leaves = [
        _fuzzy_node(field, t, edits,
                    transpositions=p["fuzzy_transpositions"],
                    prefix_length=p["prefix_length"])
        if edits is not None else Term(field, t)
        for t in tokens]
    return _boosted(_join(p["operator"], leaves), p["boost"])


@_query("fuzzy", value=SCALAR(_REQ), fuzziness=FUZZINESS, boost=NUM,
        rewrite=ANY, transpositions=BOOL(False), prefix_length=INT0(0))
def _fuzzy(kind: str, body: Any, spec: dict) -> Node:
    # ES fuzzy query: {"fuzzy": {"f": {"value": "x", "fuzziness": 1}}}
    # (short form {"fuzzy": {"f": "x"}} = AUTO, length-dependent).
    # transpositions=true (r11): unrestricted Damerau — adjacent swap =
    # 1 edit (ast.Fuzzy documents the OSA-corner deviation). The ENGINE
    # default stays false (classic Levenshtein) where ES defaults true
    # — documented deviation, COVERAGE P1''. max_expansions is not
    # accepted: the engine expands the whole edit-budget neighbourhood
    # (a silent cap would shrink the match set).
    field, p = _leaf(kind, body, "value", spec)
    edits = p["fuzziness"]
    return _boosted(
        _fuzzy_node(field, _scalar(p["value"]),
                    (3, 6) if edits is None else edits,
                    transpositions=p["transpositions"],
                    prefix_length=p["prefix_length"]),
        p["boost"])


@_query("match_phrase", query=SCALAR(_REQ), slop=INT0(0), boost=NUM,
        zero_terms_query=_ZTQ)
def _match_phrase(kind: str, body: Any, spec: dict) -> Node:
    # tokens adjacent in order; index-served when a positional index
    # exists. `slop` allows intervening tokens per gap (ast.Phrase).
    field, p = _leaf(kind, body, "query", spec)
    text = str(p["query"])
    if not text.split():
        # ES zero_terms_query: an empty analyzed phrase matches NO docs
        # by default; 'all' (r11) flips it to match_all
        return MatchAll() if p["zero_terms_query"] == "all" \
            else MatchNone()
    return _boosted(Phrase(field, text, p["slop"]), p["boost"])


@_query("terms_set", terms=SCALARS(_REQ), minimum_should_match_field=STR,
        minimum_should_match_script=_SCRIPT,
        boost=NUM)
def _terms_set(kind: str, body: Any, spec: dict) -> Node:
    # {"terms_set": {f: {"terms": [...],
    #                    "minimum_should_match_field": g}}} or the
    # _script form (painless arithmetic over doc refs +
    # params.num_terms, substituted with the term count here)
    field, obj = _single(body)
    p = _params(kind, obj, spec, "{'terms': [...]}")
    # lowercase dedupe: token matching is case-insensitive, so "Spark"
    # and "spark" are ONE term on both plan shapes
    terms = tuple(dict.fromkeys(str(t).lower() for t in p["terms"]))
    if not terms:
        return MatchNone()
    msm_f = p["minimum_should_match_field"]
    msm_s = p["minimum_should_match_script"]
    if (msm_f is None) == (msm_s is None):
        raise DslError("terms_set needs exactly one of "
                       "minimum_should_match_field / "
                       "minimum_should_match_script")
    if msm_f is not None:
        return _boosted(TermsSet(field, terms, msm_f, None), p["boost"])
    substituted = _re.sub(r"params\.num_terms\b", str(len(terms)), msm_s)
    expr = _compile_doc_script("terms_set", substituted)
    return _boosted(TermsSet(field, terms, None, expr), p["boost"])


# intervals rules: ES's `match` (multi-term, ordered/unordered,
# max_gaps — width/order semantics in ast.IntervalsMatch), the
# combining `any_of` / positionally-unconstrained `all_of`, and the
# multi-term `prefix` / `wildcard` / `fuzzy` (r11). `boost` is read on
# a top-level match rule; any_of/all_of accept it as a no-op.
_RULES = {
    "match": dict(query=SCALAR(_REQ), max_gaps=_int_min(-1)(-1),
                  ordered=BOOL(False), boost=NUM),
    "any_of": dict(intervals=LIST(_REQ), boost=ANY),
    "all_of": dict(intervals=LIST(_REQ), ordered=BOOL(False),
                   max_gaps=_int_min(-1)(-1), boost=ANY),
    "prefix": dict(prefix=SCALAR(_REQ)),
    "wildcard": dict(pattern=SCALAR(_REQ)),
    "fuzzy": dict(term=SCALAR(_REQ), fuzziness=FUZZINESS),
}


def _interval_rule(field: str, rspec: Any) -> tuple[str, dict, Node]:
    """(rule, params, node) of one ``{rule: {...}}`` intervals source."""
    if not isinstance(rspec, dict) or len(rspec) != 1:
        raise DslError("intervals needs {field: {rule: {...}}}")
    (rule, obj), = rspec.items()
    if rule not in _RULES:
        raise DslError(
            f"intervals rule {rule!r} is not supported (engine rules: "
            "match, any_of, all_of, prefix, wildcard, fuzzy)")
    key = next(iter(_RULES[rule]))
    p = _params(f"intervals {rule}", obj, _RULES[rule],
                "{'intervals': [rule, ...]}" if key == "intervals"
                else f"{{{key!r}: str}}")
    if rule == "match":
        tokens = tuple(dict.fromkeys(str(p["query"]).lower().split()))
        node: Node = IntervalsMatch(field, tokens, p["ordered"],
                                    p["max_gaps"]) \
            if tokens else MatchNone()
    elif key == "intervals":
        if not p["intervals"]:
            raise DslError(f"intervals {rule} needs "
                           "{'intervals': [rule, ...]}")
        if rule == "all_of" and (p["ordered"] or p["max_gaps"] != -1):
            raise DslError(
                "intervals all_of with ordered/max_gaps needs "
                "cross-source interval algebra (engine subset: "
                "positionally unconstrained all_of)")
        subs = tuple(_interval_rule(field, r)[2] for r in p["intervals"])
        node = Or(subs) if rule == "any_of" else And(subs)
    else:
        # multi-term rules match wherever ANY dictionary term the
        # pattern expands to occurs — a one-term interval, the
        # span_multi TermPattern machinery (expanded against the term
        # dictionary pre-compile, ≤1024 clauses)
        val = _scalar(p[key])
        edits = 2
        if rule == "fuzzy":
            from cassandra_es_index_spark.search.ast import fuzzy_edits
            e = p["fuzziness"]
            edits = fuzzy_edits(_fuzzy_node(field, val,
                                            (3, 6) if e is None else e))
        node = SpanOr(field, (TermPattern(rule, val, edits),))
    return rule, p, node


@_query("intervals")
def _intervals(kind: str, body: Any, spec: dict) -> Node:
    # duplicate query terms collapse (documented deviation); combined
    # trees keep the intervals flat-1 score (ConstantScore — the
    # engine's documented intervals scoring deviation)
    field, rspec = _single(body)
    rule, p, node = _interval_rule(field, rspec)
    if rule == "match":
        return _boosted(node, p["boost"])
    if isinstance(node, MatchNone):
        return node
    return ConstantScore(node, 1.0)


@_query("constant_score", filter=CLAUSE(_REQ), boost=NUM(1.0))
def _constant_score(kind: str, body: Any, spec: dict) -> Node:
    p = _params(kind, body, spec, "{'filter': clause}")
    return ConstantScore(p["filter"], p["boost"])


@_query("match_phrase_prefix", query=SCALAR(_REQ), slop=INT0(0),
        boost=NUM, max_expansions=INT1(50))
def _match_phrase_prefix(kind: str, body: Any, spec: dict) -> Node:
    # phrase whose LAST word matches any token it prefixes. The
    # expansion caps at max_expansions (ES default 50) dictionary terms
    # in term order — the engine rewrites the node to its concrete
    # expansion set at search time when the cap binds (r6; ast.Phrase)
    field, p = _leaf(kind, body, "query", spec)
    text = str(p["query"])
    if not text.split():
        raise DslError("match_phrase_prefix needs a non-empty query")
    return _boosted(Phrase(field, text, p["slop"], last_prefix=True,
                           max_expansions=p["max_expansions"]),
                    p["boost"])


@_query("dis_max", queries=CLAUSES(_REQ),
        tie_breaker=_number(0, 1, strings=True)(0.0), boost=NUM)
def _dis_max(kind: str, body: Any, spec: dict) -> Node:
    # ES dis_max: best subquery's score + tie_breaker × the rest
    p = _params(kind, body, spec, "{'queries': [clause, ...]}")
    return _boosted(DisMax(p["queries"], p["tie_breaker"]), p["boost"])


@_query("script_score", query=CLAUSE(_REQ), script=ANY(_REQ), boost=NUM)
def _script_score(kind: str, body: Any, spec: dict) -> Node:
    # ES standalone script_score query (r11): the script REPLACES the
    # query score (function_score boost_mode=replace) — the home of the
    # dense-vector idiom `cosineSimilarity(params.qv, 'embedding') +
    # 1.0`. min_score is served by the request-level `min_score`.
    p = _params(kind, body, spec, "{'query': clause, 'script': ...}",
                note="engine subset — use the request-level min_score "
                     "instead of the query-level one")
    scorer = _parse_score_fn("script_score", {"script": p["script"]})
    return _boosted(_dc_replace(scorer, child=p["query"],
                                boost_mode="replace"), p["boost"])


_NONEMPTY_LIST = _tag("a non-empty array", lambda v: isinstance(v, list)
                      and v)
# one function_score function entry: filter/weight + one function
_FS_ENTRY = dict(filter=CLAUSE(_NO_NULL), weight=NUM,
                 **{k: ANY for k in _FS_FN_KEYS})


@_query("function_score", query=CLAUSE(MatchAll()),
        boost_mode=_enum(*_BOOST_MODES)("multiply"),
        functions=_NONEMPTY_LIST(()),
        score_mode=_enum(*_SCORE_MODES)("multiply"), max_boost=NUM,
        boost=NUM, **{k: ANY for k in _FS_FN_KEYS})
def _function_score(kind: str, body: Any, spec: dict) -> Node:
    # single-function form (field_value_factor / script_score /
    # random_score / gauss/linear/exp) OR the `functions` ARRAY —
    # per-entry filter/weight, score_mode combination, max_boost cap —
    # the production relevance-tuning idiom (r8)
    p = _params(kind, body, spec)
    fns = [k for k in _FS_FN_KEYS if k in body]
    if p["functions"]:
        if fns:
            raise DslError(
                "function_score cannot mix a top-level function "
                f"({fns[0]!r}) with a 'functions' array")
        entries = []
        for i, obj in enumerate(p["functions"]):
            e = _params(f"functions[{i}]", obj, _FS_ENTRY,
                        what="unknown keys")
            fk = [k for k in _FS_FN_KEYS if k in obj]
            if len(fk) > 1:
                raise DslError(f"functions[{i}] carries more than one "
                               f"function: {fk}")
            scorer = _parse_score_fn(fk[0], e[fk[0]]) if fk else None
            if scorer is None and e["weight"] is None:
                raise DslError(
                    f"functions[{i}] needs a function or a 'weight' "
                    "(ES: an entry in the functions list is missing a "
                    "function)")
            entries.append(ScoreFunction(e["filter"], e["weight"],
                                         scorer))
        return _boosted(
            FunctionScoreArray(p["query"], tuple(entries),
                               p["score_mode"], p["boost_mode"],
                               p["max_boost"]), p["boost"])
    if len(fns) != 1:
        raise DslError(
            "function_score needs exactly one of field_value_factor/"
            "script_score/random_score/gauss/linear/exp or a "
            f"'functions' array (got {fns or 'none'})")
    scorer = _parse_score_fn(fns[0], p[fns[0]])
    return _boosted(_dc_replace(scorer, child=p["query"],
                                boost_mode=p["boost_mode"]), p["boost"])


@_query("range", gte=SCALAR, gt=SCALAR, lte=SCALAR, lt=SCALAR, boost=NUM,
        relation=_enum("intersects", desc="'intersects' (engine subset "
                       "— scalar fields)")("intersects"),
        time_zone=ANY, format=ANY)
def _range(kind: str, body: Any, spec: dict) -> Node:
    # `relation` changes range-field semantics — anything but the
    # default typed-rejects (engine subset). `format` and `time_zone`
    # GRADUATED r14: bounds are literals at parse time, so
    # custom-format bound strings parse and zone-local wall clocks
    # resolve driver-side to concrete UTC instants here — both serving
    # paths (scan pushdown and range index) then see plain typed bounds.
    field, bounds = _single(body)
    p = _params(kind, bounds, spec, "bounds object")
    lo = p["gte"] if "gte" in bounds else p["gt"]
    hi = p["lte"] if "lte" in bounds else p["lt"]
    if "format" in bounds:
        lo, hi = _apply_range_format(bounds["format"], lo, hi)
    if "time_zone" in bounds:
        lo, hi = _apply_range_time_zone(bounds["time_zone"], lo, hi)
    return _boosted(Range(
        field,
        None if lo is None else _scalar(lo),
        None if hi is None else _scalar(hi),
        include_lo="gte" in bounds or "gt" not in bounds,
        include_hi="lte" in bounds or "lt" not in bounds,
    ), p["boost"])


@_query("prefix", value=SCALAR(_REQ), boost=NUM, case_insensitive=TRUE,
        rewrite=ANY)
def _prefix(kind: str, body: Any, spec: dict) -> Node:
    # served from token-sorted postings as a LIKE range when an index
    # exists — the reference's own headline query class
    # (`body:cassan*`, ref README.md:179) in DSL form
    field, p = _leaf(kind, body, "value", spec)
    return _boosted(Wildcard(field, f"{p['value']}*"), p["boost"])


@_query("wildcard", value=SCALAR(_REQ), wildcard=SCALAR, boost=NUM,
        case_insensitive=TRUE, rewrite=ANY)
def _wildcard(kind: str, body: Any, spec: dict) -> Node:
    # `wildcard` is ES's alias of `value`
    field, obj = _single(body)
    if isinstance(obj, dict) and "value" not in obj and "wildcard" in obj:
        obj = {**obj, "value": obj["wildcard"]}
    field, p = _leaf(kind, {field: obj}, "value", spec)
    return _boosted(Wildcard(field, str(p["value"])), p["boost"])


@_query("regexp", value=SCALAR(_REQ), boost=NUM, case_insensitive=TRUE,
        flags=_enum("ALL", desc="'ALL' (the engine executes Java regex "
                    "— documented deviation)")("ALL"),
        max_determinized_states=ANY, rewrite=ANY)
def _regexp(kind: str, body: Any, spec: dict) -> Node:
    # ES regexp query: TERM-anchored (the pattern must match a whole
    # lowercased token), like Lucene's RegexpQuery over the term
    # dictionary. Only the ALL flags pass (flags select Lucene regexp
    # operators); max_determinized_states is a safety knob (no-op).
    field, p = _leaf(kind, body, "value", spec)
    return _boosted(Regexp(field, str(p["value"])), p["boost"])


@_query("multi_match", query=SCALAR(_REQ), fields=FIELDS(_REQ),
        fuzziness=FUZZINESS, boost=NUM,
        type=_enum("best_fields", "most_fields", "cross_fields", "phrase",
                   "phrase_prefix", "bool_prefix", desc="most_fields/"
                   "best_fields/cross_fields/phrase/phrase_prefix/"
                   "bool_prefix")("best_fields"),
        tie_breaker=_number(0, 1)(0.0),
        operator=_enum("or", "and", desc="or/and")("or"),
        minimum_should_match=MSM, slop=INT0(0), max_expansions=INT1(50),
        zero_terms_query=_ZTQ)
def _multi_match(kind: str, body: Any, spec: dict) -> Node:
    # per-field match clauses combined by `type` — the FULL ES type set
    # (r11): "best_fields" (the DEFAULT — DisMax: best branch +
    # tie_breaker × rest), "most_fields" (Σ of per-field branch scores,
    # the Or convention), "cross_fields" (term-centric: the token
    # grouping flips field-major → token-major, each token must appear
    # in ≥1 field under `operator: and`; score = Σ over tokens of the
    # per-field tf sum — documented deviation from ES's blended term
    # statistics, same match set), "phrase"/"phrase_prefix" (a
    # match_phrase(_prefix) per field under a DisMax; `slop` /
    # `max_expansions` pass through), and "bool_prefix" (a
    # match_bool_prefix per field, scores combined like most_fields).
    # `minimum_should_match` (r11) lands on each per-field covering
    # (best/most) or the token-group Should gate (cross_fields).
    p = _params(kind, body, spec, "{'query': str, 'fields': [...]}")
    mm_type, operator = p["type"], p["operator"]
    edits, msm = p["fuzziness"], p["minimum_should_match"]
    phrase_like = mm_type in ("phrase", "phrase_prefix")
    if mm_type not in ("best_fields", "phrase", "phrase_prefix") \
            and "tie_breaker" in body:
        raise DslError("multi_match tie_breaker applies to best_fields "
                       "only")
    if phrase_like:
        # ES silently ignores these for the phrase types; the engine
        # rejects instead (no silent parameter drops — r9)
        for bad in ("operator", "minimum_should_match", "fuzziness"):
            if bad in body:
                raise DslError(
                    f"multi_match {bad} does not apply to the {mm_type} "
                    "type (ES ignores it; this engine rejects the "
                    "combination)")
    if "slop" in body and not phrase_like:
        raise DslError("multi_match slop applies to phrase/phrase_prefix "
                       "only")
    if "max_expansions" in body and mm_type != "phrase_prefix":
        raise DslError("multi_match max_expansions applies to "
                       "phrase_prefix only")
    if mm_type in ("cross_fields", "bool_prefix") and edits is not None:
        raise DslError(f"multi_match {mm_type} does not support "
                       "fuzziness (engine subset)")
    if msm is not None:
        if operator == "and":
            raise DslError("multi_match: minimum_should_match is "
                           "inoperative with operator 'and' (ES ignores "
                           "it; this engine rejects the combination)")
        if edits is not None:
            raise DslError("multi_match: minimum_should_match with "
                           "fuzziness is not supported (engine subset — "
                           "the covering count is over exact terms)")
        if mm_type == "bool_prefix":
            raise DslError("multi_match bool_prefix does not support "
                           "minimum_should_match (engine subset)")
    fields = _field_boosts(kind, p["fields"])
    qtext = str(p["query"])
    tokens = qtext.split()
    if not tokens:
        # zero analyzed tokens → MatchNoDocs; 'all' flips to match_all
        # (zero_terms_query, r11 — same as match)
        return MatchAll() if p["zero_terms_query"] == "all" \
            else MatchNone()
    if phrase_like:
        branches = [
            _boosted(Phrase(f, qtext, p["slop"],
                            last_prefix=(mm_type == "phrase_prefix"),
                            max_expansions=p["max_expansions"]), fboost)
            for f, fboost in fields]
    elif mm_type == "bool_prefix":
        branches = [
            _boosted(_join(operator, [Term(f, t) for t in tokens[:-1]]
                           + [Wildcard(f, tokens[-1] + "*")]), fboost)
            for f, fboost in fields]
    elif mm_type == "cross_fields":
        # token-major: one group per TOKEN, each an OR over the fields;
        # groups combine And/Or by `operator`. With msm (r11) the groups
        # become a Should gated on the count of matching DISTINCT-token
        # groups — the token-major twin of match's covering count.
        if msm is not None:
            tokens = list(dict.fromkeys(t.lower() for t in tokens))
        groups = [_join("or", [_boosted(Term(f, t), fboost)
                               for f, fboost in fields])
                  for t in tokens]
        if msm is not None and len(groups) > 1:
            count = _msm_count(msm, len(groups), "multi_match")
            return _boosted(Should(tuple(groups), min_count=count),
                            p["boost"])
        return _boosted(_join(operator, groups), p["boost"])
    elif msm is not None:
        # ES passes minimum_should_match into each per-field match
        # query — the same CoveringQuery the match leaf compiles
        terms = tuple(dict.fromkeys(t.lower() for t in tokens))
        count = _msm_count(msm, len(terms), "multi_match")
        branches = [_boosted(TermsSet(f, terms, msm_expr=str(count)),
                             fboost) for f, fboost in fields]
    else:
        branches = [
            _boosted(_join(operator, [
                _fuzzy_node(f, t, edits) if edits is not None
                else Term(f, t) for t in tokens]), fboost)
            for f, fboost in fields]
    if len(branches) == 1:
        node = branches[0]
    elif mm_type in ("best_fields", "phrase", "phrase_prefix"):
        node = DisMax(tuple(branches), tie_breaker=p["tie_breaker"])
    else:
        node = Or(tuple(branches))
    return _boosted(node, p["boost"])


@_query("ids", values=SCALARS(_REQ), boost=NUM)
def _ids(kind: str, body: Any, spec: dict) -> Node:
    p = _params(kind, body, spec, "{'values': [...]}")
    return _boosted(Ids(tuple(str(v) for v in p["values"])), p["boost"])


@_query("exists", field=STR(_REQ), boost=NUM)
def _exists(kind: str, body: Any, spec: dict) -> Node:
    p = _params(kind, body, spec, "{'field': name}")
    return _boosted(Exists(p["field"]), p["boost"])


@_query("bool", must=CLAUSE_LIST(()), filter=CLAUSE_LIST(()),
        should=CLAUSE_LIST(()), must_not=CLAUSE_LIST(()),
        minimum_should_match=MSM, boost=NUM)
def _bool(kind: str, body: Any, spec: dict) -> Node:
    p = _params(kind, body, spec)
    # filter context: required but scoreless, like ES
    parts = [*p["must"], *(Scoreless(n) for n in p["filter"])]
    should, msm = p["should"], p["minimum_should_match"]
    if msm is not None and not should:
        raise DslError("bool: minimum_should_match needs 'should' "
                       "clauses")
    if should:
        # explicit msm gates ≥ n should clauses, beside must/filter or
        # alone; score = Σ matching clauses (r9). A sub-1 resolved
        # floor (negative forms, r10) means fully-optional shoulds
        # beside must/filter (ES msm=0) but still gates at ≥1 when
        # should stands alone (Lucene: a pure-should bool needs one
        # match). Without msm, should beside must/filter is optional
        # and score-only; alone, at least one must match.
        n = 0 if msm is None else _msm_count(msm, len(should), "bool",
                                             clamp=False)
        if n >= 1:
            parts.append(Should(should, min_count=n))
        elif parts:
            parts.append(Should(should))
        else:
            parts.append(_join("or", list(should)))
    parts += [Not(n) for n in p["must_not"]]
    if not parts:
        return MatchAll()
    return _boosted(_join("and", parts), p["boost"])


@_query("knn", field=STR(_REQ), query_vector=_tag(
            "a non-empty numeric array",
            lambda v: isinstance(v, list) and v and all(map(_is_num, v)))
        (_REQ), num_candidates=_tag(
            "an integer in [1, 10000] (the ES ceiling)",
            lambda v: _is_int(v) and 1 <= v <= 10000)(100),
        k=INT1, filter=CLAUSE_LIST(()), similarity=_number(), boost=NUM)
def _knn(kind: str, body: Any, spec: dict) -> Node:
    # ES 8.12+ knn QUERY kind (vs the top-level knn SECTION): a vector
    # search usable as an ordinary bool clause — in should it adds
    # similarity to the score, in must/filter it gates to the candidate
    # pool. Data-driven (ast.KnnClause): the engine resolves the
    # top-num_candidates docs pre-compile (IVF-served when an index
    # exists, exact cosine otherwise) into a ScoredIds literal. Engine
    # defaults num_candidates to k, else 100 (documented — ES derives
    # it from k).
    p = _params("knn query", body, spec, "a 'field' string")
    kk = p["k"]
    nc = p["num_candidates"] if "num_candidates" in body \
        else kk if kk is not None else 100
    if kk is not None and kk > nc:
        raise DslError("knn query k cannot exceed num_candidates")
    fnode: Node | None = None
    if "filter" in body:
        parts = p["filter"]
        if not parts:
            raise DslError("knn query filter cannot be empty")
        fnode = parts[0] if len(parts) == 1 \
            else And(tuple(Scoreless(n) for n in parts))
    return _boosted(
        KnnClause(p["field"], tuple(float(x) for x in p["query_vector"]),
                  num_candidates=nc, k=kk, filter_node=fnode,
                  similarity=p["similarity"]), p["boost"])


@_query("wrapper", query=STR(_REQ))
def _wrapper(kind: str, body: Any, spec: dict) -> Node:
    # ES wrapper query: base64-encoded JSON query, decoded and parsed
    import base64 as _b64
    p = _params(kind, body, spec, "{'query': base64-string}")
    try:
        inner = json.loads(_b64.b64decode(p["query"]).decode("utf-8"))
    except Exception as e:  # noqa: BLE001 — malformed payloads
        raise DslError(f"wrapper query is not valid base64 JSON: "
                       f"{e}") from e
    return _node(inner)


@_query("pinned", ids=SCALARS(_REQ), organic=CLAUSE(_REQ))
def _pinned(kind: str, body: Any, spec: dict) -> Node:
    # ES pinned query, desugared onto the existing algebra: pinned doc
    # i becomes constant_score(ids([i]), BASE - i) and the whole
    # request is a dis_max over those branches plus the organic query
    # — pinned docs outrank any organic score, in listed order, and
    # organic-only docs keep their scores. Requires the synthesized
    # `_id` document field, like the ids query.
    usage = "{'ids': [...], 'organic': clause}"
    p = _params(kind, body, spec, usage, note="engine subset — "
                "docs-form pins and boost are not supported")
    if not p["ids"]:
        raise DslError(f"pinned needs {usage}")
    base = float(1 << 30)
    return DisMax((*(ConstantScore(Ids((str(v),)), base - k)
                     for k, v in enumerate(p["ids"])), p["organic"]), 0.0)


_MASKING = dict(query=ANY(_REQ), field=STR(_REQ), boost=ANY)


@_query("span_near", clauses=LIST(_REQ), slop=INT0(0),
        in_order=BOOL(True), boost=NUM)
def _span_near(kind: str, body: Any, spec: dict) -> Node:
    # N span clause slots (r10 — Lucene SpanNearQuery is N-ary). Each
    # slot is span_term / span_or / span_multi (_span_clause_terms —
    # span_multi slots carry TermPattern, expanded against the term
    # dictionary before compile); slop bounds the non-matched positions
    # inside the match window (max − min + 1 − N ≤ slop), in_order
    # defaults true like Lucene.
    usage = "{'clauses': [two or more span clauses]}"
    p = _params(kind, body, spec, usage)
    if len(p["clauses"]) < 2:
        raise DslError(f"span_near needs {usage}")
    if len(p["clauses"]) > 8:
        raise DslError(
            "span_near supports at most 8 clauses (engine subset — the "
            "tuple-count plan nests one evaluation level per clause)")
    fields = set()
    slots: list[tuple] = []
    slot_fields: list = []
    for cl in p["clauses"]:
        # span_field_masking (r12): the clause REPORTS `field` (so the
        # mixed-field combination is accepted) while its positions come
        # from the inner query's own field (Lucene
        # FieldMaskingSpanQuery). Engine subset (typed): masking wraps
        # a whole span_near clause only, and the inner query is
        # span_term/span_or (no span_multi — its term-dictionary
        # expansion would run against the wrong field's dictionary).
        if isinstance(cl, dict) and len(cl) == 1 \
                and "span_field_masking" in cl:
            m = _params("span_field_masking", cl["span_field_masking"],
                        _MASKING, "{'query': span clause, 'field': "
                                  "masked-as field}")
            src_fld, terms = _span_clause_terms(m["query"])
            if any(not isinstance(t, str) for t in terms):
                raise DslError(
                    "span_field_masking does not wrap span_multi (the "
                    "pattern would expand against the wrong field's term "
                    "dictionary — documented subset)")
            fields.add(m["field"])
            slot_fields.append(src_fld)
        else:
            src_fld, terms = _span_clause_terms(cl)
            fields.add(src_fld)
            slot_fields.append(None)
        slots.append(terms)
    if len(fields) != 1:
        raise DslError("span_near clauses must share one field (wrap "
                       "cross-field clauses in span_field_masking)")
    masked = any(f is not None for f in slot_fields)
    first = second = ""
    if not masked and len(slots) == 2 and all(
            len(s) == 1 and isinstance(s[0], str) for s in slots):
        first, second = slots[0][0], slots[1][0]
    return _boosted(
        SpanNear(next(iter(fields)), first, second, p["slop"],
                 p["in_order"], tuple(slots),
                 tuple(slot_fields) if masked else ()), p["boost"])


@_query("span_term", value=SCALAR(_REQ), boost=NUM)
def _span_term(kind: str, body: Any, spec: dict) -> Node:
    # standalone span_term (r12): a span of one token ≡ the term's own
    # positions — ES scores it like a term query (Σ tf, which IS the
    # position count). The one-element SpanOr keeps the span-family
    # score convention and the index-served plan.
    field, p = _leaf(kind, body, "value", spec)
    return _boosted(SpanOr(field, (_scalar(p["value"]),)), p["boost"])


@_query("span_or", clauses=ANY(_REQ), boost=NUM)
def _span_or(kind: str, body: Any, spec: dict) -> Node:
    # union of single-token span_term clauses, one shared field —
    # score = count of matching positions (Σ tf)
    p = _params(kind, body, spec, "{'clauses': [span_term, ...]}")
    return _boosted(SpanOr(*_span_clause_terms({kind: body})),
                    p["boost"])


@_query("span_multi", match=ANY(_REQ))
def _span_multi(kind: str, body: Any, spec: dict) -> Node:
    # standalone span_multi ≡ span_or over the pattern's dictionary
    # expansion (Σ matching positions — Lucene
    # SpanMultiTermQueryWrapper's union-of-spans frequency)
    _params(kind, body, spec, "{'match': {prefix|wildcard|regexp|fuzzy: "
                              "{field: ...}}}")
    return SpanOr(*_span_clause_terms({kind: body}))


@_query("span_first", match=ANY(_REQ), end=INT0(_REQ), boost=NUM)
def _span_first(kind: str, body: Any, spec: dict) -> Node:
    # spans of `match` ending at position ≤ end (Lucene
    # SpanPositionRangeQuery(match, 0, end))
    p = _params(kind, body, spec, "{'match': span clause, 'end': int}")
    return _boosted(SpanFirst(*_span_clause_terms(p["match"]), p["end"]),
                    p["boost"])


@_query("span_not", include=ANY(_REQ), exclude=ANY(_REQ), pre=INT0(0),
        post=INT0(0), dist=INT0(0), boost=NUM)
def _span_not(kind: str, body: Any, spec: dict) -> Node:
    # include spans not within pre/post tokens of an exclude span;
    # `dist` sets both (ES parity)
    p = _params(kind, body, spec, "{'include': span clause, 'exclude': "
                                  "span clause}")
    if "dist" in body and ("pre" in body or "post" in body):
        raise DslError("span_not takes dist OR pre/post, not both")
    pre, post = (p["dist"], p["dist"]) if "dist" in body \
        else (p["pre"], p["post"])
    ifld, inc = _span_clause_terms(p["include"])
    efld, exc = _span_clause_terms(p["exclude"])
    if ifld != efld:
        raise DslError("span_not include/exclude must share one field")
    return _boosted(SpanNot(ifld, inc, exc, pre, post), p["boost"])


@_query("span_containing", "span_within", big=ANY(_REQ),
        little=ANY(_REQ), boost=NUM)
def _span_containing(kind: str, body: Any, spec: dict) -> Node:
    # big spans that contain a little span / little spans inside a big
    # span (r9; N-ary big r11). Engine subset: little is single-token
    # (span_term/span_or); big is single-token OR a span_near of 2–8
    # clauses with union slots — Lucene's common usage
    # (phrase-contains-term). Score = count of qualifying spans.
    p = _params(kind, body, spec, "{'big': span clause, 'little': span "
                                  "clause}")
    lfld, little = _span_clause_terms(p["little"])
    big = p["big"]
    if isinstance(big, dict) and len(big) == 1 and "span_near" in big:
        near = _node(big)
        # a `boost` inside the big clause would come back wrapped —
        # reject it (boost the whole query instead)
        if not isinstance(near, SpanNear):
            raise DslError(f"{kind} big span_near does not take boost "
                           "(boost the whole query)")
        bfld, big_terms = near.field, ()
        big_near = (near.slots(), near.slop, near.in_order)
    else:
        (bfld, big_terms), big_near = _span_clause_terms(big), None
    if bfld != lfld:
        raise DslError(f"{kind} big/little must share one field")
    return _boosted(
        SpanContaining(bfld, big_terms, big_near, little,
                       within=(kind == "span_within")), p["boost"])


def _meters(v: Any) -> float:
    from cassandra_es_index_spark.functions.geo import distance_meters
    try:
        return distance_meters(v)
    except ValueError as e:
        raise DslError(str(e)) from e


@_query("geo_distance", distance=_Tag("an ES distance string",
                                      _meters)(_REQ), boost=NUM)
def _geo_distance(kind: str, body: Any, spec: dict) -> Node:
    # {"geo_distance": {"distance": "200km", field: point}} — haversine
    # filter on the struct<lat,lon> geo_point column
    field, point, p = _beside(kind, body, spec,
                              "{'distance': d, field: point}")
    lat, lon = _geo_point(point, "geo_distance")
    return _boosted(GeoDistance(field, lat, lon, p["distance"]),
                    p["boost"])


@_query("geo_bounding_box", boost=NUM)
def _geo_bounding_box(kind: str, body: Any, spec: dict) -> Node:
    # ES boost rides beside the field key (r11)
    field, box, p = _beside(kind, body, spec, "{field: {'top_left': "
                            "point, 'bottom_right': point}}")
    c = _params(kind, box, {"top_left": ANY(_REQ),
                            "bottom_right": ANY(_REQ)},
                "top_left and bottom_right corners")
    top, left = _geo_point(c["top_left"], kind)
    bottom, right = _geo_point(c["bottom_right"], kind)
    if bottom > top:
        raise DslError("geo_bounding_box bottom above top")
    # left > right is a box CROSSING the antimeridian (ES semantics,
    # r9): the lon predicate becomes lon ≥ left OR lon ≤ right —
    # handled by the compiler and the covering-cell enumeration alike
    return _boosted(GeoBoundingBox(field, top, left, bottom, right),
                    p["boost"])


@_query("boosting", positive=CLAUSE(_REQ), negative=CLAUSE(_REQ),
        negative_boost=_number(0, 1, hi_open=True, strings=True)(0.5),
        boost=NUM)
def _boosting(kind: str, body: Any, spec: dict) -> Node:
    # ES boosting query: positive gates, negative demotes by
    # negative_boost (must be in [0, 1) per ES)
    p = _params(kind, body, spec, "{'positive': clause, 'negative': "
                                  "clause}")
    return _boosted(Boosting(p["positive"], p["negative"],
                             p["negative_boost"]), p["boost"])


@_query("nested", path=STR(_REQ), query=CLAUSE(_REQ),
        score_mode=_enum("avg", "sum", "min", "max", "none")("avg"),
        boost=NUM, inner_hits=ANY)
def _nested(kind: str, body: Any, spec: dict) -> Node:
    # ES nested query over an array<struct> column: the inner query
    # evaluates per element (same-element semantics), score_mode
    # combines matching elements' scores (ES default avg)
    p = _params(kind, body, spec, "{'path': name, 'query': clause}")
    if "inner_hits" in body:
        raise DslError("nested inner_hits is supported on a TOP-LEVEL "
                       "nested query only (documented engine subset)")
    return _boosted(Nested(p["path"], p["query"], p["score_mode"]),
                    p["boost"])


@_query("has_child", type=STR(_REQ), query=CLAUSE(_REQ),
        score_mode=_enum("none", "min", "max", "sum", "avg")("none"),
        min_children=INT0(1), max_children=INT0, boost=NUM,
        ignore_unmapped=FALSE, inner_hits=OBJECT)
def _has_child(kind: str, body: Any, spec: dict) -> Node:
    # ES has_child (join-field parent/child): matches PARENT docs whose
    # children — per a relation registered with
    # SearchEngine.register_relation, the engine's analogue of the ES
    # join-field mapping — satisfy the inner query. Data-driven: the
    # engine resolves it before compile (_expand_join_nodes).
    p = _params(kind, body, spec, "{'type': child_relation, 'query': "
                                  "clause}")
    lo, hi = p["min_children"], p["max_children"]
    if hi is not None and hi < lo:
        raise DslError(
            f"has_child max_children ({hi}) < min_children ({lo}) "
            "matches nothing — typed error, not a silent MatchNone")
    ih = _join_inner_size(kind, p["inner_hits"])
    return _boosted(
        HasChild(p["type"], p["query"], p["score_mode"], lo, hi,
                 ih[0] if ih else None, ih[1] if ih else None),
        p["boost"])


@_query("has_parent", parent_type=STR(_REQ), query=CLAUSE(_REQ),
        score=BOOL(False), boost=NUM, ignore_unmapped=FALSE,
        inner_hits=OBJECT)
def _has_parent(kind: str, body: Any, spec: dict) -> Node:
    # ES has_parent: matches CHILD docs whose parent satisfies the
    # inner query; score: true hands children their parent's score
    p = _params(kind, body, spec, "{'parent_type': parent_relation, "
                                  "'query': clause}")
    ih = _join_inner_size(kind, p["inner_hits"])
    return _boosted(
        HasParent(p["parent_type"], p["query"], p["score"],
                  ih[0] if ih else None, ih[1] if ih else None),
        p["boost"])


@_query("parent_id", type=STR(_REQ), id=SCALAR(_REQ), boost=NUM,
        ignore_unmapped=FALSE)
def _parent_id(kind: str, body: Any, spec: dict) -> Node:
    # ES parent_id: child docs of relation `type` whose parent key
    # equals `id` — engine-resolved to an equality on the child
    # foreign-key column (no join needed)
    p = _params(kind, body, spec, "{'type': child_relation, 'id': "
                                  "parent_id}")
    return _boosted(ParentIdQ(p["type"], str(p["id"])), p["boost"])


_OPERATOR = _enum("or", "and", fold=True, desc="or/and")("or")


@_query("query_string", query=STR(_REQ), default_field=STR(_NO_NULL),
        fields=FIELDS(_NO_NULL),
        default_operator=_OPERATOR, tie_breaker=_number(0, 1)(0.0),
        boost=NUM)
def _query_string(kind: str, body: Any, spec: dict) -> Node:
    # full Lucene grammar via the query_string parser; r11 adds the
    # field-binding parameters: `default_field` rebinds the parse's
    # default-field leaves; `fields` (with `^boost` syntax) runs the
    # parse per field under a DisMax + `tie_breaker` (ES's multi-field
    # query_string combination). `default_operator: and` (r11) requires
    # every juxtaposed clause (query_string._regroup_and); mixing
    # explicit OR with juxtaposition under the AND default
    # typed-rejects — Lucene's classic-QP regroup of that combination
    # is inconsistent, parenthesize instead.
    p = _params(kind, body, spec, "{'query': str}")
    if "default_field" in body and "fields" in body:
        raise DslError("query_string takes default_field OR fields, "
                       "not both")
    if "tie_breaker" in body and "fields" not in body:
        raise DslError("query_string tie_breaker applies to the "
                       "'fields' form only")
    try:
        parsed = qs.parse(p["query"], default_operator=p["default_operator"])
    except qs.QueryParseError as e:
        # the mixed OR/juxtaposition AND-default rejection (and any
        # other parse error) surfaces as the DSL's typed error class
        raise DslError(f"query_string: {e}") from e
    if p["fields"] is not None:
        branches = [_boosted(_bind_default_field(parsed, f), fboost)
                    for f, fboost in _field_boosts(kind, p["fields"])]
        parsed = branches[0] if len(branches) == 1 \
            else DisMax(tuple(branches), tie_breaker=p["tie_breaker"])
    elif p["default_field"] is not None:
        parsed = _bind_default_field(parsed, p["default_field"])
    return _boosted(parsed, p["boost"])


@_query("simple_query_string", query=SCALAR(_REQ), fields=FIELDS,
        default_operator=_OPERATOR, boost=NUM)
def _simple_query_string(kind: str, body: Any, spec: dict) -> Node:
    p = _params(kind, body, spec, "{'query': str}")
    text, op = str(p["query"]), p["default_operator"]
    if p["fields"] is None:
        return _boosted(_sqs_parse(text, None, op), p["boost"])
    return _boosted(_join("or", [
        _boosted(_sqs_parse(text, f, op), fboost)
        for f, fboost in _field_boosts(kind, p["fields"])]), p["boost"])


@_query("match_bool_prefix", query=SCALAR(_REQ), operator=_OPERATOR,
        boost=NUM)
def _match_bool_prefix(kind: str, body: Any, spec: dict) -> Node:
    # ES match_bool_prefix: analyzed terms as a bool query whose LAST
    # term is a prefix — the search-as-you-type primitive. Desugars to
    # Term leaves + a trailing-star Wildcard (exactly the prefix-served
    # shape); `operator` joins with and/or (ES default or). Empty
    # analyzed input → MatchNoDocs, like match.
    field, p = _leaf(kind, body, "query", spec, what="unknown keys")
    tokens = str(p["query"]).split()
    if not tokens:
        return MatchNone()
    return _boosted(_join(p["operator"],
                          [Term(field, t) for t in tokens[:-1]]
                          + [Wildcard(field, tokens[-1] + "*")]),
                    p["boost"])


@_query("combined_fields", query=SCALAR(_REQ), fields=FIELDS(_REQ),
        operator=_OPERATOR, boost=NUM)
def _combined_fields(kind: str, body: Any, spec: dict) -> Node:
    # ES combined_fields: the query terms match across several fields
    # AS IF they were one combined field. Desugar: per term, an Or over
    # the fields (the engine's Or sums matching branch tfs — the
    # term-centric combined-field frequency; DEVIATION: no BM25F
    # weighting, the engine's documented tf-count scoring applies);
    # `operator` joins the per-term groups (ES default or). Per-field
    # `^boost` syntax scales that field's contribution, like
    # multi_match.
    p = _params(kind, body, spec, "{'query': str, 'fields': [...]}",
                what="unknown keys")
    fields = _field_boosts(kind, p["fields"])
    tokens = str(p["query"]).split()
    if not tokens:
        return MatchNone()
    return _boosted(_join(p["operator"], [
        _join("or", [_boosted(Term(f, t), fb) for f, fb in fields])
        for t in tokens]), p["boost"])


def _like(key: str) -> _Tag:
    """A more_like_this ``like``/``unlike`` value — a string, an
    ``{"_id": id}`` object, or a list of them — read as (texts, ids)."""
    def check(v: Any) -> tuple[tuple[str, ...], tuple[str, ...]]:
        texts: list[str] = []
        ids: list[str] = []
        for item in v if isinstance(v, list) else [v]:
            if isinstance(item, str):
                texts.append(item)
            elif isinstance(item, dict) and "_id" in item:
                ids.append(str(item["_id"]))
            else:
                raise DslError(
                    f"more_like_this {key} entries must be strings or "
                    f"{{'_id': id}} objects, got {item!r}")
        return tuple(texts), tuple(ids)
    return _Tag("strings or {'_id': id} objects", check)


@_query("more_like_this", fields=FIELDS, like=_like("like")(_REQ),
        unlike=_like("unlike")(((), ())), max_query_terms=INT1(25),
        min_term_freq=INT1(2), min_doc_freq=INT1(5), max_doc_freq=INT1,
        minimum_should_match=MSM("30%"), include=BOOL(False), boost=NUM)
def _more_like_this(kind: str, body: Any, spec: dict) -> Node:
    # {"more_like_this": {"fields": [f], "like": "text" |
    #  [... , {"_id": id}], "max_query_terms": 25, ...}} —
    # data-driven: resolved engine-side (ast.MoreLikeThis)
    p = _params(kind, body, spec, "{'like': ...}", what="unknown keys")
    if p["fields"] is not None and len(p["fields"]) > 1:
        raise DslError("more_like_this supports exactly one field "
                       "(documented engine subset)")
    texts, ids = p["like"]
    if not texts and not ids:
        raise DslError("more_like_this needs at least one like text or "
                       "doc id")
    msm = p["minimum_should_match"]
    # grammar check at parse time (widened r10: ints, integer strings
    # incl. negative, ±N% — the _msm_count subset); the count resolves
    # against the picked term set at expansion time
    _msm_count(msm, 100, kind)
    return _boosted(
        MoreLikeThis(p["fields"] and p["fields"][0], texts, ids,
                     unlike_texts=p["unlike"][0],
                     unlike_ids=p["unlike"][1],
                     max_query_terms=p["max_query_terms"],
                     min_term_freq=p["min_term_freq"],
                     min_doc_freq=p["min_doc_freq"],
                     max_doc_freq=p["max_doc_freq"],
                     minimum_should_match=str(msm).strip(),
                     include=p["include"]), p["boost"])


def _shape_relation(v: Any) -> str:
    rel = str(v).lower()
    if rel not in ("intersects", "within", "disjoint"):
        # `contains` would need shape-typed documents (a point can only
        # contain a point); the engine's corpus geo field is a point
        raise DslError(
            f"geo_shape relation {rel!r} is not supported (engine subset: "
            "intersects / within / disjoint — the corpus field is a "
            "point, so contains needs shape-typed documents)")
    return rel


@_query("geo_shape", shape=ANY, indexed_shape=OBJECT(_NO_NULL),
        relation=_Tag("intersects, within or disjoint",
                      _shape_relation)("intersects"), boost=NUM)
def _geo_shape(kind: str, body: Any, spec: dict) -> Node:
    # {"geo_shape": {field: {"shape": {...}, "relation": ...}}} — the
    # corpus geo field is a POINT, so intersects ≡ point-in-shape and
    # every shape desugars onto the existing bbox/polygon algebra —
    # inheriting their scan predicates AND the covering-cell
    # index-served plan (shape_to_node). r11 adds `indexed_shape` (the
    # query shape lives in another document — ES's shared-geofence
    # pattern): parsed to the data-driven GeoShapeLookup node, resolved
    # by the engine before compile like terms lookup.
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError("geo_shape needs {field: {'shape': {...}}}")
    (field, obj), = body.items()
    p = _params(kind, obj, spec, "{'shape': {...}}")
    if ("shape" in obj) == ("indexed_shape" in obj):
        raise DslError("geo_shape needs exactly one of 'shape' (inline) "
                       "or 'indexed_shape' (reference)")
    if "shape" in obj:
        return _boosted(shape_to_node(field, p["shape"], p["relation"]),
                        p["boost"])
    # `routing` is a shard-addressing hint with no engine analogue
    ref = _params("geo_shape indexed_shape", p["indexed_shape"], _LOOKUP,
                  "{'index': ..., 'id': ..., 'path': ...}",
                  note="engine subset: index/id/path")
    return _boosted(GeoShapeLookup(field, ref["index"], str(ref["id"]),
                                   ref["path"], relation=p["relation"]),
                    p["boost"])


@_query("geo_polygon", boost=NUM)
def _geo_polygon(kind: str, body: Any, spec: dict) -> Node:
    # {"geo_polygon": {field: {"points": [...]}}} — even-odd
    # point-in-polygon (ast.GeoPolygon); ES boost rides beside the
    # field key (r11)
    field, obj, p = _beside(kind, body, spec, "{field: {'points': [...]}}")
    points = _params(kind, obj, {"points": LIST(_REQ)},
                     "{'points': [...]}")["points"]
    pts = [_geo_point(pt, kind) for pt in points]
    # an explicitly closed ring (first == last) is accepted and
    # unclosed — the edge walk closes implicitly
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        raise DslError("geo_polygon needs at least 3 distinct points")
    return _boosted(GeoPolygon(field, tuple(pts)), p["boost"])


def _geohash(v: Any) -> str:
    key = str(v).lower()
    if not 1 <= len(key) <= 12 or any(
            c not in "0123456789bcdefghjkmnpqrstuvwxyz" for c in key):
        raise DslError(f"geo_grid geohash key {v!r} must be 1-12 base32 "
                       "geohash characters")
    return key


def _geotile(v: Any) -> str:
    parts = str(v).split("/")
    try:
        z, x, y = (int(t) for t in parts)
    except ValueError:
        z = x = y = -1
    if not 0 <= z <= 29 or not 0 <= x < (1 << z) or not 0 <= y < (1 << z):
        raise DslError(f"geo_grid geotile key {v!r} must be 'z/x/y' with "
                       "0 <= z <= 29 and x, y tile indices in range")
    return f"{z}/{x}/{y}"


_GRID_CELL = dict(geohash=_Tag("a geohash key", _geohash)(_NO_NULL),
                  geotile=_Tag("a 'z/x/y' tile key", _geotile)(_NO_NULL))


@_query("geo_grid", boost=NUM)
def _geo_grid(kind: str, body: Any, spec: dict) -> Node:
    # ES geo_grid query (r12): docs in ONE named grid cell — {"geohash":
    # key} or {"geotile": "z/x/y"}. Compiles to the SAME key functions
    # as the grid aggregations, so a bucket key fed back as a query
    # returns exactly that bucket's documents. geohex typed-rejects (no
    # H3 library in the engine subset); boost rides beside the field
    # key like the other geo kinds.
    usage = "{field: {'geohash': key} or {'geotile': 'z/x/y'}}"
    field, obj, p = _beside(kind, body, spec, usage)
    cell = _params(kind, obj, _GRID_CELL, usage,
                   note="engine subset: geohash / geotile — geohex is "
                        "not supported, it needs an H3 library")
    if len(obj) != 1:
        raise DslError("geo_grid needs exactly one of geohash/geotile "
                       "(geohex: engine subset)")
    (gkind, key), = ((k, v) for k, v in cell.items() if v is not None)
    return _boosted(GeoGridCell(field, gkind, key), p["boost"])


_DOC = _tag("a non-empty object", lambda v: isinstance(v, dict) and v)


@_query("percolate", field=NAME(_REQ), document=_DOC(_NO_NULL),
        documents=_tag("a non-empty array of non-empty objects",
                       lambda v: isinstance(v, list) and v and all(
                           isinstance(d, dict) and d for d in v))
        (_NO_NULL))
def _percolate(kind: str, body: Any, spec: dict) -> Node:
    # ES percolate query (r12): run against a STORED-QUERIES table,
    # match the rows whose query matches the inline document.
    # `documents` holds multi-doc slots; the stored-document reference
    # form (index/id) typed-rejects (engine subset); `name` is ES's
    # multi-percolate disambiguator and meaningless for one clause.
    p = _params(kind, body, spec, "a 'field' naming the stored-query "
                "column", note="engine subset: field + inline "
                "document(s) — stored-document references are not "
                "implemented")
    if ("document" in body) == ("documents" in body):
        raise DslError("percolate takes exactly one of 'document' or "
                       "'documents'")
    pdocs = p["documents"] or [p["document"]]
    if len(pdocs) > 100:
        raise DslError(
            "percolate 'documents' exceeds 100 slots (engine subset — "
            "every slot multiplies the one-pass evaluation; batch "
            "through percolate())")
    if len({tuple(sorted(d)) for d in pdocs}) > 1:
        raise DslError(
            "percolate 'documents' slots must share one key set (engine "
            "subset — one inferred schema per pass)")
    # value TYPES must also agree per key (r12 review finding): mixed
    # types would fail schema inference at execution with an opaque
    # merge error instead of a typed one here
    for k in pdocs[0] if len(pdocs) > 1 else ():
        kinds = {"num" if _is_num(d[k]) else type(d[k]).__name__
                 for d in pdocs if d[k] is not None}
        if len(kinds) > 1:
            raise DslError(
                f"percolate 'documents' field {k!r} mixes value types "
                f"{sorted(kinds)} across slots (one inferred schema per "
                "pass)")
    return PercolateDoc(p["field"], tuple(
        json.dumps(d, sort_keys=True) for d in pdocs))


@_query("script", script=_SCRIPT(_REQ), boost=NUM)
def _script(kind: str, body: Any, spec: dict) -> Node:
    # ES script query (filter context): {"script": {"script":
    # {"source": "doc['f'].value > 5"}}} — the painless
    # arithmetic/comparison subset, compiled to ONE SQL boolean
    # expression. ES requires filter scripts to return a boolean; the
    # engine enforces it at parse: the translated expression must carry
    # a comparison (arithmetic-only → typed error).
    p = _params("script query", body, spec, "{'script': {'source': str}}")
    src = p["script"]
    expr = _compile_doc_script("script", src)
    if not _re.search(r"(?:<=|>=|!=|<|>|=)", expr):
        raise DslError("script query must return a boolean — the script "
                       f"{src!r} is arithmetic-only (no comparison)")
    refs = tuple(dict.fromkeys(_re.findall(
        r"doc\['([A-Za-z_][\w.]*)'\]\.value", src)))
    return _boosted(ScriptFilter(expr, refs, src), p["boost"])


_POS = _number(0, lo_open=True)


@_query("sparse_vector", field=NAME(_REQ), query_vector=_tag(
            "a non-empty object of token: positive weight (at most 1024 "
            "tokens — the engine's max-clause ceiling)",
            lambda v: isinstance(v, dict) and 0 < len(v) <= 1024
            and all(isinstance(t, str) and t and _is_num(w) and w > 0
                    for t, w in v.items()))
        (_REQ), boost=_POS)
def _sparse_vector(kind: str, body: Any, spec: dict) -> Node:
    # ES sparse_vector with an INLINE query_vector (r12): score =
    # Σ_token query_weight × stored_weight over the matched tokens.
    # Engine subset: the field is an analyzed text column whose stored
    # weight for a token IS its tf (the engine's scoring model — ES
    # stores learned weights in a rank_features field; with tf weights
    # the query desugars EXACTLY to a weighted bool/should of term
    # clauses, so every plan path composes for free). Tokens must be
    # pre-analyzed (lowercase), like ES's. inference_id/query
    # (server-side ML) and prune/pruning_config typed-reject.
    p = _params(kind, body, spec, what="unsupported keys",
                note="engine subset: inline query_vector only — "
                     "inference_id/query need a model; prune changes the "
                     "match set silently")
    return _boosted(_join("or", [_boosted(Term(p["field"], tok), float(w))
                                 for tok, w in p["query_vector"].items()]),
                    p["boost"])


# rank_feature functions and their required parameters; the engine
# does not derive index-statistic defaults (documented deviation)
_RANK_FNS = {"saturation": dict(pivot=_POS(_REQ)),
             "log": dict(scaling_factor=_number(1.0)(_REQ)),
             "sigmoid": dict(pivot=_POS(_REQ), exponent=_POS(_REQ)),
             "linear": {}}


@_query("rank_feature", field=STR(_REQ), boost=NUM(1.0),
        **{fn: OBJECT for fn in _RANK_FNS})
def _rank_feature(kind: str, body: Any, spec: dict) -> Node:
    # {"rank_feature": {"field": f, "saturation": {"pivot": 8}}} —
    # positive-feature matching + saturating score (ast.RankFeature)
    p = _params(kind, body, spec, "{'field': name}", what="unknown keys")
    fns = [fn for fn in _RANK_FNS if p[fn] is not None]
    if len(fns) > 1:
        raise DslError(f"rank_feature takes at most one function, got "
                       f"{fns}")
    fkind = fns[0] if fns else "saturation"
    takes = list(_RANK_FNS[fkind]) or "no parameters"
    f = _params(f"rank_feature {fkind}", p[fkind] or {}, _RANK_FNS[fkind],
                note=f"{fkind} takes {takes}")
    return RankFeature(p["field"], fkind, f.get("pivot"),
                       f.get("exponent"), f.get("scaling_factor"),
                       p["boost"])


def _feature_origin(v: Any) -> Any:
    """A distance_feature origin: a geo point literal ([lon, lat],
    {lat, lon}, "lat,lon") parses eagerly to (lat, lon), a number to a
    float; date strings stay raw for the engine's date-math pass."""
    if isinstance(v, str) and not _re.fullmatch(
            r"\s*-?\d+(\.\d+)?\s*,\s*-?\d+(\.\d+)?\s*", v):
        return v
    if _is_num(v):
        return float(v)
    if isinstance(v, (str, list, dict)):
        return _geo_point(v, "distance_feature")
    raise ValueError(v)


@_query("distance_feature", field=STR(_REQ), origin=_Tag(
            "a date, date-math string, or geo point",
            _feature_origin)(_REQ),
        pivot=_tag("a duration or distance string",
                   lambda v: isinstance(v, str) or _is_num(v))(_REQ),
        boost=NUM(1.0))
def _distance_feature(kind: str, body: Any, spec: dict) -> Node:
    # {"distance_feature": {"field": f, "origin": ..., "pivot": "7d"}}
    # — closeness scoring on date / geo_point fields
    # (ast.DistanceFeature). Date origins and pivots stay raw here; the
    # engine's date-math pass (date fields) or the compiler (geo
    # fields) resolves them by the field's dtype.
    p = _params(kind, body, spec, "{'field': name, 'origin': ..., "
                                  "'pivot': ...}", what="unknown keys")
    return DistanceFeature(p["field"], p["origin"], p["pivot"],
                           p["boost"])


# ------------------------------------------------------ aggregation kinds
#
# Every aggregation kind is one row of `_AGGS`, registered with
# `@_agg(role, *kinds, **spec)`. The role says where the kind may sit:
#   metric    a metric (at the top level or inside a bucket level);
#   bucket    a bucket kind that may also nest as a level's one deeper
#             bucket;
#   top       composite, the single-bucket, sampler and join kinds:
#             top level (or under another top kind);
#   pipeline  a per-level pipeline inside a bucket level's aggs;
#   sibling   a sibling pipeline declared next to a bucket agg;
#   top_hits  the hits of a bucket level.
# The spec declares the kind's parameters in the clause vocabulary and
# `_params` checks it; a builder gets (kind, name, checked parameters,
# parsed sub-aggs) and keeps the rules that tie parameters together. A
# row's `subs` parses the sub-aggs (`_level`, `_metric_subs`,
# `_no_subs`, `_any_subs`, or the raw object), `siblings` allows
# sibling pipelines beside it, `ordered` marks the pipelines that need a
# histogram/date_histogram parent, and `resolve` checks a pipeline's
# buckets_path against its level's metrics.


@dataclass(frozen=True)
class _AggKind:
    role: str
    build: Callable[..., Any]
    spec: dict[str, _Tag] | None      # None: the body is passed raw
    subs: Callable[[str, dict], Any] | None = None
    siblings: bool = False
    ordered: bool = False
    resolve: Callable[..., Any] | None = None
    null: bool = False                # a null body reads as {}
    # (what, note) of the unknown-parameter error
    unknown: tuple[str, str] = ("unsupported params", "engine subset")


_AGGS: dict[str, _AggKind] = {}


def _agg(role: str, *kinds: str, subs=None, siblings: bool = False,
         ordered: bool = False, resolve=None, null: bool = False,
         what: str = "unsupported params", note: str = "engine subset",
         raw: bool = False, **spec: _Tag):
    """Register the decorated ``build(kind, name, params, sub)`` as the
    builder of each of ``kinds``; ``raw`` passes the body unchecked."""
    def register(build):
        for kind in kinds:
            _AGGS[kind] = _AggKind(role, build, None if raw else spec,
                                   subs, siblings, ordered, resolve,
                                   null, (what, note))
        return build
    return register


def _role(kind: str) -> str | None:
    return _AGGS[kind].role if kind in _AGGS else None


def _agg_kind(name: str, body: Any) -> str:
    """The kind of one agg entry: its one key besides ``aggs``."""
    if not isinstance(body, dict) or not body:
        raise DslError(f"agg {name!r} must be an object")
    kind = next((k for k in body if k != "aggs"), None)
    if kind is None:
        raise DslError(f"agg {name!r} has no aggregation clause")
    return kind


def _build(kind: str, name: str, body: Any, sub: Any = None) -> Any:
    """Check ``body`` against the kind's spec and run its builder."""
    row = _AGGS[kind]
    if row.spec is not None:
        if body is None and row.null:
            body = {}
        need = next((k for k, t in row.spec.items() if t.default is _REQ
                     and k not in body), None) \
            if isinstance(body, dict) else None
        body = _params(f"{kind} agg {name!r}", body, row.spec, need and (
            f"{'an' if need[0] in 'aeiou' else 'a'} {need!r}"),
            what=row.unknown[0], note=row.unknown[1])
    return row.build(kind, name, body, sub)


def _entry(name: str, spec: Any) -> tuple[str, Any]:
    """(kind, value) of an entry that takes no sub-aggs."""
    kind = _agg_kind(name, spec)
    if len(spec) != 1:
        raise DslError(f"unexpected keys {sorted(set(spec) - {kind})} "
                       f"in {kind} agg {name!r}")
    return kind, _build(kind, name, spec[kind])


def _aggs(spec: Any) -> Any:
    """One aggregation object: sibling pipelines split from the rest,
    then a metrics-only tuple or the one bucket/top agg built by its
    row, its sub-aggs parsed by the row's ``subs``."""
    if spec is None:
        return None
    if not isinstance(spec, dict) or not spec:
        raise DslError("aggs must be a non-empty object")
    kinds = {n: _agg_kind(n, body) for n, body in spec.items()}
    sibs = [n for n, k in kinds.items() if _role(k) == "sibling"]
    rest = [n for n in spec if n not in sibs]
    if not rest:
        raise DslError("sibling pipeline aggs need a bucket agg to "
                       "aggregate over")
    kind = kinds[rest[0]]
    if _role(kind) not in ("bucket", "top"):
        if sibs:
            raise DslError("sibling pipeline aggs need a bucket agg "
                           "sibling")
        return tuple(_metric(n, spec[n]) for n in rest)
    if len(rest) != 1:
        raise DslError("exactly one bucket agg is supported per request")
    name, body, row = rest[0], spec[rest[0]], _AGGS[kind]
    extra = set(body) - {kind, "aggs"}
    if extra:
        raise DslError(f"unexpected keys {sorted(extra)} in {kind} agg "
                       f"{name!r} (siblings go under 'aggs')")
    if sibs and not row.siblings:
        raise DslError("sibling pipeline aggs need a bucket agg sibling; "
                       f"they are not supported beside {kind} buckets")
    sib = [(n, *_entry(n, spec[n])) for n in sibs]
    subs = body.get("aggs")
    if subs is not None and not isinstance(subs, dict):
        raise DslError(f"agg {name!r}: aggs must be an object of "
                       "sub-aggregations")
    agg = _build(kind, name, body[kind], row.subs(kind, subs or {}))
    return _with_siblings(agg, sib) if sib else agg


def _metric(name: str, spec: Any) -> MetricAgg:
    sub = None
    if isinstance(spec, dict) and set(spec) == {"reverse_nested", "aggs"}:
        # reverse_nested is the one metric kind that may carry sub-aggs
        # (ES: aggregation continues in parent scope)
        sub, spec = spec["aggs"], {"reverse_nested": spec["reverse_nested"]}
    if not isinstance(spec, dict) or len(spec) != 1:
        raise DslError(
            f"metric agg {name!r} must have exactly one kind: {spec!r}")
    (kind, body), = spec.items()
    if _role(kind) != "metric":
        metrics = [k for k in _AGGS if _role(k) == "metric"]
        raise DslError(f"unsupported metric agg {kind!r} (supported: "
                       f"{', '.join(metrics)})")
    return _build(kind, name, body, sub)


# -- sub-agg parsers (a row's `subs`)

def _no_subs(kind: str, subs: dict) -> None:
    if subs:
        raise DslError(f"{kind} does not support sub-aggregations")


def _any_subs(kind: str, subs: dict) -> Any:
    return _aggs(subs) if subs else None


def _raw_subs(kind: str, subs: dict) -> dict:
    return subs


def _metric_subs(kind: str, subs: dict) -> tuple[MetricAgg, ...]:
    for n, sp in subs.items():
        k = _agg_kind(n, sp)
        if _role(k) in ("bucket", "top"):
            raise DslError(f"{kind} supports metric sub-aggs only "
                           f"(documented subset), got {k!r}")
    return tuple(_metric(n, sp) for n, sp in subs.items())


def _level(kind: str, subs: dict) -> tuple:
    """A bucket level's sub-aggs: (metrics, the one deeper bucket,
    top_hits, pipelines as (name, kind, payload))."""
    metrics, deeper, pipes, top_hits = {}, {}, [], None
    for n, sp in subs.items():
        k = _agg_kind(n, sp)
        if _role(k) == "top_hits":
            if top_hits is not None:
                raise DslError("at most one top_hits per bucket level")
            top_hits = _entry(n, sp)[1]
        elif _role(k) == "pipeline":
            pipes.append((n, *_entry(n, sp)))
        else:
            (deeper if _role(k) == "bucket" else metrics)[n] = sp
    if len(deeper) > 1:
        raise DslError("at most one nested bucket agg is supported per "
                       "level")
    # sub-buckets nest to arbitrary depth, each level carrying its own
    # metrics and at most one deeper bucket
    return (tuple(_metric(n, sp) for n, sp in metrics.items()),
            _aggs(deeper) if deeper else None, top_hits, pipes)


def _bucket(kind: str, name: str, level: tuple, **kw: Any) -> BucketAgg:
    """A bucket level with its sub-aggs; pipelines resolve against the
    level's metrics."""
    metrics, sub, top_hits, pipes = level
    if top_hits is not None and sub is not None:
        raise DslError("top_hits is supported on the innermost bucket "
                       "level only")
    if pipes and sub is not None:
        raise DslError("pipeline aggs are supported on the innermost "
                       "bucket level only (declare them inside the "
                       "deepest bucket's aggs)")
    valid = {"_count"} | {n for m in metrics for n in m.out_names()}
    pipelines = []
    for pn, pk, payload in pipes:
        if _AGGS[pk].ordered and kind not in ("histogram",
                                              "date_histogram"):
            raise DslError(f"{pk} needs an ordered histogram/"
                           "date_histogram bucket (ES requirement)")
        pipelines.append((pn, pk, _AGGS[pk].resolve(pn, payload, metrics,
                                                     valid)))
    return BucketAgg(name=name, kind=kind, metrics=metrics,
                     top_hits=top_hits, pipelines=tuple(pipelines),
                     sub=sub, **kw)


def _with_siblings(agg: BucketAgg, sibs: list) -> BucketAgg:
    """Attach sibling pipelines: each aggregates over the TERMINAL
    bucket level's frame, so its buckets_path walks the full chain of
    level names down to a leaf metric or _count."""
    chain, leaf, b = [agg.name], agg, agg.sub
    while b is not None and not isinstance(b, tuple):
        chain.append(b.name)
        leaf, b = b, getattr(b, "sub", None)
    depth = len(chain) - 1
    count_col = ("doc_count", "sub_doc_count")[depth] if depth < 2 \
        else f"sub{depth}_doc_count"
    valid = {"_count"} | {n for m in leaf.metrics for n in m.out_names()}
    want = ">".join(chain)
    out = []
    for sn, sk, (spath, spcts) in sibs:
        *bkts, metric = spath.split(">")
        if bkts != chain or metric not in valid:
            raise DslError(f"sibling agg {sn!r}: buckets_path {spath!r} "
                           f"must be '{want}>[_count|leaf metric]'")
        out.append((sn, sk, count_col if metric == "_count" else metric,
                    spcts))
    return _dc_replace(agg, siblings=tuple(out))


# -- shared parameter shapes

FIELD = NAME(_REQ)
_MISSING = _tag("a number or string",
                lambda v: _is_num(v) or isinstance(v, str))
_ASC = _enum("asc", "desc")
_SORT = _Tag("a sort (a field, {field: order} or a list of those)", _sort)
_PERCENTS = _Tag("a non-empty list of numbers in [0, 100]",
                 lambda v: _list_of(v, _number(0, 100)))
_DURATION_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def _list_of(v: Any, tag: _Tag, lo: int = 1) -> tuple:
    """The checked entries of a list of at least ``lo`` ``tag`` values."""
    if not isinstance(v, list) or len(v) < lo:
        raise ValueError(v)
    return tuple(tag.check(x) for x in v)


def _field_of(key: str) -> _Tag:
    """``{"field": name}``, read as the name."""
    return _Tag("{'field': name}",
                lambda v: _params(key, v, {"field": FIELD})["field"])


def _duration(v: Any) -> float:
    """Seconds of a signed ``±N(s|m|h|d)`` offset."""
    m = _re.fullmatch(r"([+-]?)(\d+)([smhd])", v) \
        if isinstance(v, str) else None
    if m is None:
        raise ValueError(v)
    secs = int(m.group(2)) * _DURATION_UNITS[m.group(3)]
    return float(-secs if m.group(1) == "-" else secs)


_OFFSET = _Tag("±N(s|m|h|d)", _duration)


def _clause_object(v: Any) -> Node:
    if not isinstance(v, dict) or not v:
        raise ValueError(v)
    return _node(v)


def _zone_offset(tz: str) -> int | None:
    """Seconds of a fixed-offset ``time_zone``; None for a named IANA
    zone (checked to exist)."""
    secs = _fixed_tz_seconds(tz)
    if secs is None:
        try:
            from zoneinfo import ZoneInfo
            ZoneInfo(tz)
        except Exception:
            raise DslError(f"unknown time_zone {tz!r}") from None
    return secs


# ------------------------------------------------------------ metric kinds

@_agg("metric", "avg", "sum", "min", "max", "value_count", "stats",
      "extended_stats", "geo_centroid", "geo_bounds", "string_stats",
      field=FIELD, missing=_MISSING)
@_agg("metric", "cardinality", field=FIELD, missing=_MISSING,
      precision_threshold=INT1)
@_agg("metric", "percentiles", field=FIELD, missing=_MISSING,
      percents=_PERCENTS(_DEFAULT_PERCENTS), compression=INT1,
      tdigest=_Tag("{'compression': n}", lambda v: _params(
          "tdigest", v, {"compression": INT1})["compression"]))
def _simple_metric(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    # `missing` substitutes null field values instead of dropping them
    # from the aggregate; `precision_threshold` opts cardinality into
    # HLL++ and `compression` percentiles into the sketch (ES nests it
    # under `tdigest`; a flat one is read too)
    comp = p.get("compression")
    return MetricAgg(name, kind, p["field"],
                     precision_threshold=p.get("precision_threshold"),
                     percents=p.get("percents", _DEFAULT_PERCENTS),
                     compression=p.get("tdigest") if comp is None
                     else comp, missing=p["missing"])


@_agg("metric", "boxplot", "median_absolute_deviation", field=FIELD,
      compression=INT1)
def _sketch_metric(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    # exact percentiles by default; `compression` opts into the
    # percentile_approx sketch, as for the percentiles metric
    return MetricAgg(name, kind, p["field"], compression=p["compression"])


@_agg("metric", "percentile_ranks", field=FIELD, values=_Tag(
    "a non-empty list of numbers", lambda v: _list_of(v, _number()))(_REQ))
def _percentile_ranks(kind: str, name: str, p: dict,
                      sub: Any) -> MetricAgg:
    return MetricAgg(name, kind, p["field"], rank_values=p["values"])


@_agg("metric", "rate", unit=_enum(
    "second", "minute", "hour", "day", "week",
    desc="second/minute/hour/day/week (fixed spans — engine subset)")(_REQ),
    field=NAME, mode=_enum("sum", "value_count")("sum"))
def _rate(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    # a bucket's doc_count (or field sum / value count) rescaled to a
    # time unit of the PARENT date_histogram's span, validated at
    # execution where the parent is known
    if p["mode"] == "value_count" and not p["field"]:
        raise DslError(f"rate agg {name!r}: mode value_count needs a "
                       "'field' (ES contract)")
    return MetricAgg(name=name, kind="rate", field=p["field"] or "",
                     unit=p["unit"], rate_mode=p["mode"])


@_agg("metric", "scripted_metric", note="engine subset; params would make "
      "the translation non-declarative", init_script=STR(_REQ),
      map_script=STR(_REQ), combine_script=STR(_REQ),
      reduce_script=STR(_REQ))
def _scripted_metric(kind: str, name: str, p: dict,
                     sub: Any) -> MetricAgg:
    # ES scripted_metric, DECLARATIVELY: the init/map/combine/reduce
    # pipeline translates at parse time into ONE Spark SQL aggregate
    # expression — the per-doc script becomes sum() aggregates Catalyst
    # combines map-side. Subset (all typed):
    # - init:    `state.v = 0` assignments only (a nonzero init is
    #   per-shard in ES — shard-count-dependent — so it is rejected);
    # - map:     `state.v += <arith>` over the doc['f'].value painless
    #   arithmetic subset (null field values contribute nothing);
    # - combine: `return <arith over state.*>`;
    # - reduce:  a single-state identity — this engine is ONE shard, so
    #   the combine arithmetic is exact over GLOBAL sums.
    def stmts(s: str) -> list[str]:
        return [x.strip() for x in s.split(";") if x.strip()]

    sm_vars: set[str] = set()
    for st in stmts(p["init_script"]):
        m_i = _re.fullmatch(r"state\.(\w+)\s*=\s*0(?:\.0)?", st)
        if m_i is None:
            raise DslError(
                f"scripted_metric agg {name!r}: init must be "
                f"'state.<var> = 0' assignments, got {st!r} (a "
                "nonzero init is per-shard in ES — shard-count-"
                "dependent — and is rejected, not emulated)")
        sm_vars.add(m_i.group(1))
    if not sm_vars:
        raise DslError(f"scripted_metric agg {name!r}: init_script "
                       "initializes no state variables")
    var_sums: dict[str, list[str]] = {v: [] for v in sm_vars}
    for st in stmts(p["map_script"]):
        m_m = _re.fullmatch(r"state\.(\w+)\s*\+=\s*(.+)", st)
        if m_m is None:
            raise DslError(
                f"scripted_metric agg {name!r}: map must be "
                f"'state.<var> += <arithmetic>' statements, got {st!r}")
        v, expr = m_m.group(1), m_m.group(2)
        if v not in sm_vars:
            raise DslError(f"scripted_metric agg {name!r}: map writes "
                           f"uninitialized state.{v}")
        if _re.search(r"==|!=|<=|>=|<|>|&&|\|\||!|\?", expr):
            raise DslError(
                f"scripted_metric agg {name!r}: map expressions are "
                "arithmetic only (engine subset — no comparisons/"
                "conditionals)")
        var_sums[v].append(_compile_doc_script(name, expr))
    mapped = {v: es_ for v, es_ in var_sums.items() if es_}
    if not mapped:
        raise DslError(f"scripted_metric agg {name!r}: map_script "
                       "updates no state variables")
    m_c = _re.fullmatch(r"return\s+(.+?)\s*;?", p["combine_script"].strip())
    if m_c is None:
        raise DslError(f"scripted_metric agg {name!r}: combine must be "
                       "'return <arithmetic over state.*>'")
    comb = m_c.group(1)
    if _re.search(r"==|!=|<=|>=|<|>|&&|\|\||!|\?", comb):
        raise DslError(f"scripted_metric agg {name!r}: combine is "
                       "arithmetic only (engine subset)")

    def comb_ref(m_v: "_re.Match[str]") -> str:
        if m_v.group(1) not in mapped:
            raise DslError(
                f"scripted_metric agg {name!r}: combine reads "
                f"state.{m_v.group(1)}, which the map never updates")
        return f"`__stv_{m_v.group(1)}`"

    final = _arith_sql(name, _re.sub(r"state\.(\w+)", comb_ref, comb))
    red = _re.sub(r"\s+", " ", p["reduce_script"].strip())
    if not (_re.fullmatch(r"return states\[0\] ?;?", red) or _re.fullmatch(
            r"double (\w+) = 0 ?; for \( ?(\w+) in states ?\) "
            r"\{ ?\1 \+= \2 ?;? ?\} return \1 ?;?", red)):
        raise DslError(
            f"scripted_metric agg {name!r}: reduce must be a "
            "single-state identity — 'return states[0]' or the "
            "canonical 'double s = 0; for (t in states) { s += t } "
            "return s' sum loop (this engine is ONE shard; any other "
            "reduce would change the result)")
    for v, exprs in mapped.items():
        total = " + ".join(f"sum({e})" for e in exprs)
        final = final.replace(f"`__stv_{v}`", f"({total})")
    return MetricAgg(name, "scripted_metric", "",
                     script_sql=f"CAST(({final}) AS DOUBLE)")


@_agg("metric", "geo_line", point=_field_of("point")(_REQ),
      sort=_field_of("sort")(_REQ), size=_int_min(1, 10000)(10000),
      sort_order=_ASC("asc"), include_sort=BOOL(False))
def _geo_line(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    # the bucket's points as a GeoJSON LineString in sort order
    if p["include_sort"]:
        raise DslError(
            f"geo_line agg {name!r}: include_sort: true is not "
            "supported (it changes the response shape; the sort "
            "values are the request's own field — documented)")
    return MetricAgg(name, "geo_line", p["point"], sort_field=p["sort"],
                     sort_asc=p["sort_order"] == "asc",
                     line_size=p["size"])


@_agg("metric", "weighted_avg", value=_field_of("value")(_REQ),
      weight=_field_of("weight")(_REQ))
def _weighted_avg(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    return MetricAgg(name, kind, p["value"], weight_field=p["weight"])


def _tt_side(key: str) -> _Tag:
    return _Tag("{'field': name, 'filter'?: clause}", lambda v: _params(
        f"t_test {key}", v, {"field": FIELD, "filter": CLAUSE(_NO_NULL)},
        what="unsupported params"))(_REQ)


@_agg("metric", "t_test", a=_tt_side("a"), b=_tt_side("b"), type=_enum(
    "paired", "heteroscedastic", "homoscedastic",
    desc="paired/heteroscedastic/homoscedastic")("heteroscedastic"))
def _t_test(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    # DEVIATION (documented on MetricAgg): returns <name>_t + <name>_df
    # instead of ES's p-value
    a, b = p["a"], p["b"]
    if p["type"] == "paired" and (a["filter"] is not None
                                  or b["filter"] is not None):
        raise DslError(f"t_test agg {name!r}: paired type cannot take "
                       "filters (ES contract — pairs come from the same "
                       "documents)")
    if p["type"] != "paired" and a["field"] == b["field"] \
            and a["filter"] is None and b["filter"] is None:
        raise DslError(f"t_test agg {name!r}: unpaired types need "
                       "distinct fields or filters (identical "
                       "populations)")
    return MetricAgg(name, kind, a["field"], t_b=b["field"],
                     t_filter_a=a["filter"], t_filter_b=b["filter"],
                     t_type=p["type"])


@_agg("metric", "matrix_stats", fields=_Tag(
    "a list of at least two field names",
    lambda v: _list_of(v, NAME, 2))(_REQ))
def _matrix_stats(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    # listwise deletion across the field set
    if len(set(p["fields"])) != len(p["fields"]):
        raise DslError(f"matrix_stats agg {name!r}: duplicate fields")
    return MetricAgg(name, kind, p["fields"][0], multi_fields=p["fields"])


_RN_SUB_KINDS = ("avg", "sum", "min", "max", "value_count",
                 "cardinality")


@_agg("metric", "reverse_nested", raw=True)
def _reverse_nested(kind: str, name: str, body: Any,
                    sub: Any) -> MetricAgg:
    # jumps back to PARENT documents inside a nested agg: doc_count =
    # distinct parents holding ≥1 element in the bucket; parent-scope
    # METRIC sub-aggs run over that distinct-parent frame
    if body not in ({}, None):
        raise DslError(
            f"reverse_nested agg {name!r}: parameters {body!r} are not "
            "supported (engine subset — one nested level, so the "
            "jump target is always the document root)")
    if sub is not None and (not isinstance(sub, dict) or not sub):
        raise DslError(f"reverse_nested agg {name!r}: aggs must be a "
                       "non-empty object")
    subs = tuple(_metric(sn, ss) for sn, ss in (sub or {}).items())
    for sm in subs:
        if sm.kind not in _RN_SUB_KINDS:
            raise DslError(
                f"reverse_nested agg {name!r}: parent-scope sub-agg "
                f"{sm.name!r} kind {sm.kind!r} is not supported (engine "
                f"subset: {', '.join(_RN_SUB_KINDS)})")
        if sm.precision_threshold is not None:
            raise DslError(
                f"reverse_nested agg {name!r}: precision_threshold is "
                "not supported on parent-scope cardinality (engine "
                "subset — exact count distinct)")
    return MetricAgg(name, kind, "", sub_metrics=subs)


@_agg("metric", "top_metrics", metrics=_Tag(
    "{'field': name} or a non-empty list of those",
    lambda v: _list_of([v] if isinstance(v, dict) else v,
                       _field_of("top_metrics metrics")))(_REQ),
    sort=_SORT, size=_int_min(1, 10)(1))
def _top_metrics(kind: str, name: str, p: dict, sub: Any) -> MetricAgg:
    # the metric field values of the TOP document under the sort
    # (size ≤ 10, plain-field sort only)
    if len(set(p["metrics"])) != len(p["metrics"]):
        raise DslError(f"top_metrics agg {name!r}: duplicate metric "
                       "fields")
    tsort = p["sort"] or ()
    if len(tsort) != 1 or not isinstance(tsort[0][0], str) \
            or tsort[0][0] == "_score":
        raise DslError(f"top_metrics agg {name!r} needs exactly one "
                       "plain-field sort entry")
    return MetricAgg(name, kind, tsort[0][0], multi_fields=p["metrics"],
                     sort_asc=tsort[0][1], line_size=p["size"])


# ------------------------------------------------------------ bucket kinds

def _order(v: Any) -> tuple[tuple[str, bool], ...]:
    """ES terms ``order``: one ``{target: asc|desc}`` object or a list
    of them, applied left to right."""
    specs = v if isinstance(v, list) else [v]
    if not specs or not all(isinstance(o, dict) and len(o) == 1
                            for o in specs):
        raise ValueError(v)
    return tuple((t, _ASC.check(d) == "asc")
                 for o in specs for t, d in o.items())


def _include(key: str) -> _Tag:
    """terms ``include``/``exclude``: a regex matching the WHOLE term,
    a value list, or (include) the partition object — a deterministic
    disjoint slice pmod(xxhash64(key-as-string), m) == p."""
    def check(v: Any) -> tuple:
        if isinstance(v, str):
            return ("re", v)
        if isinstance(v, list) and v and all(
                isinstance(x, (str, int, float)) for x in v):
            return ("values", tuple(v))
        if key == "include" and isinstance(v, dict):
            p = _params("terms include partition", v,
                        {"partition": INT0(_REQ),
                         "num_partitions": INT1(_REQ)},
                        "exactly {'partition': p, 'num_partitions': m}")
            if p["partition"] >= p["num_partitions"]:
                raise DslError("terms include partition needs integers "
                               "0 <= partition < num_partitions")
            return ("partition", p["partition"], p["num_partitions"])
        raise ValueError(v)
    return _Tag("a regex string, a non-empty list of scalars" + (
        ", or the partition object" if key == "include" else ""), check)


@_agg("bucket", "terms", subs=_level, siblings=True, field=FIELD,
      size=INT1, order=_Tag("{target: 'asc'|'desc'} or a list of those",
                            _order), missing=ANY, min_doc_count=INT0,
      include=_include("include"), exclude=_include("exclude"))
def _terms_agg(kind: str, name: str, p: dict, level: tuple) -> BucketAgg:
    order = p["order"]
    if order is not None:
        # targets: _count, _key, a sub-metric or "<stats>.avg" etc.
        valid = {"_count", "_key"}
        for m in level[0]:
            valid.add(m.name)
            if m.kind in ("stats", "extended_stats"):
                valid.update(f"{m.name}.{n[len(m.name) + 1:]}"
                             for n in m.out_names())
        for target, _ in order:
            if target not in valid:
                raise DslError(f"order target {target!r} is neither "
                               "_count, _key, nor a sub-agg name")
        if len({t for t, _ in order}) != len(order):
            raise DslError("duplicate terms order targets")
    return _bucket(kind, name, level, field=p["field"], size=p["size"],
                   order=order, missing=p["missing"],
                   min_doc_count=p["min_doc_count"],
                   include=p["include"], exclude=p["exclude"])


def _bounds(key: str) -> _Tag:
    return _Tag("{'min': …, 'max': …}", lambda v: tuple(_params(
        key, v, {"min": ANY(_REQ), "max": ANY(_REQ)}).values()))(_NO_NULL)


def _histo_bounds(kind: str, p: dict) -> tuple:
    """(extended_bounds, hard_bounds): extended_bounds widens the empty
    buckets of min_doc_count 0; hard_bounds drops docs whose bucket
    falls outside. Date bounds must be strings: a numeric epoch is
    ambiguous between seconds and ES's millis."""
    hb = p["hard_bounds"]
    if hb is not None:
        if p["extended_bounds"] is not None:
            raise DslError("hard_bounds and extended_bounds are "
                           "mutually exclusive (ES contract)")
        for side, v in zip(("min", "max"), hb):
            if kind == "histogram" and not _is_num(v):
                raise DslError(f"histogram hard_bounds {side} must be "
                               "numeric")
            if kind == "date_histogram" and not isinstance(v, str):
                raise DslError(
                    f"date_histogram hard_bounds {side} must be a date "
                    "STRING (engine subset — a numeric epoch is "
                    "ambiguous between seconds and ES's millis)")
    return p["extended_bounds"], hb


_HISTO = dict(field=FIELD, missing=ANY, min_doc_count=INT0,
              extended_bounds=_bounds("extended_bounds"),
              hard_bounds=_bounds("hard_bounds"))


@_agg("bucket", "histogram", subs=_level, siblings=True,
      interval=_number(0, lo_open=True, keep=True)(_REQ),
      offset=_number(keep=True), **_HISTO)
def _histogram(kind: str, name: str, p: dict, level: tuple) -> BucketAgg:
    # buckets align to offset + n×interval; |offset| < interval
    offset = p["offset"]
    if offset is not None:
        offset = float(offset) % float(p["interval"])
    eb, hb = _histo_bounds(kind, p)
    return _bucket(kind, name, level, field=p["field"],
                   interval=p["interval"], offset=offset,
                   missing=p["missing"], min_doc_count=p["min_doc_count"],
                   extended_bounds=eb, hard_bounds=hb)


@_agg("bucket", "date_histogram", subs=_level, siblings=True,
      calendar_interval=NAME, fixed_interval=NAME, offset=_OFFSET,
      time_zone=NAME, **_HISTO)
def _date_histogram(kind: str, name: str, p: dict,
                    level: tuple) -> BucketAgg:
    if p["calendar_interval"] is None and p["fixed_interval"] is None:
        raise DslError("date_histogram needs a 'calendar_interval' or "
                       "'fixed_interval'")
    # the offset shifts every bucket boundary (e.g. "+6h": day buckets
    # start at 06:00); a FIXED time_zone folds into it (boundary =
    # trunc(ts + tz - offset) + offset - tz), so `time_zone` carries
    # only NAMED zones, truncated per instant in local wall-clock
    offset, tz, named = p["offset"], p["time_zone"], None
    if tz is not None:
        tzsec = _zone_offset(tz)
        if tzsec is None:
            # key generation outside the data needs a fixed offset, and
            # fixed_interval's epoch alignment under DST is ambiguous
            if p["fixed_interval"] is not None:
                raise DslError("a named time_zone needs calendar_interval"
                               " (fixed-offset zones work with "
                               "fixed_interval)")
            if p["min_doc_count"] == 0 or p["extended_bounds"] is not None:
                raise DslError(
                    "a named time_zone cannot combine with min_doc_count"
                    " 0 / extended_bounds (key generation needs a fixed "
                    "offset) — use a fixed-offset time_zone")
            named = tz
        elif tzsec:
            offset = float(offset or 0.0) - tzsec
    eb, hb = _histo_bounds(kind, p)
    return _bucket(kind, name, level, field=p["field"], offset=offset,
                   calendar_interval=p["calendar_interval"],
                   fixed_interval=p["fixed_interval"], time_zone=named,
                   missing=p["missing"], min_doc_count=p["min_doc_count"],
                   extended_bounds=eb, hard_bounds=hb)


def _range_list(ctx: str, v: Any, spec: dict[str, _Tag]) -> list[dict]:
    """The checked entries of a ``ranges`` list: each has ``from``
    and/or ``to`` (``ip_range``: or a ``mask``)."""
    if not isinstance(v, list) or not v:
        raise DslError(f"{ctx} needs a non-empty 'ranges' list")
    out = []
    for entry in v:
        if not isinstance(entry, dict) or not set(entry) & (
                set(spec) - {"key"}):
            raise DslError(f"{ctx}: each range needs 'from' and/or 'to'"
                           + (" bounds or a 'mask'" if "mask" in spec
                              else ""))
        out.append(_params(f"{ctx} range", entry, spec))
    return out


def _unique_keys(ctx: str, ranges: list[tuple]) -> tuple:
    named = [k for k, *_ in ranges if k is not None]
    if len(set(named)) != len(named):
        raise DslError(f"{ctx}: duplicate range keys")
    return tuple(ranges)


def _num_ranges(ctx: str, v: Any) -> tuple:
    """((key, from, to), ...): ``from`` inclusive, ``to`` exclusive,
    None an open side; key is ES's ``from-to`` label unless named."""
    out = []
    for e in _range_list(ctx, v, {"from": _number(), "to": _number(),
                                  "key": SCALAR}):
        lo, hi = e["from"], e["to"]
        key = e["key"] or f"{'*' if lo is None else lo}" \
                          f"-{'*' if hi is None else hi}"
        out.append((str(key), lo, hi))
    return _unique_keys(ctx, out)


@_agg("bucket", "range", subs=_level, siblings=True, field=FIELD,
      ranges=ANY, keyed=BOOL)
def _range_agg(kind: str, name: str, p: dict, level: tuple) -> BucketAgg:
    # overlapping ranges count a doc in EACH bucket (ES semantics);
    # `keyed` is an accepted no-op: the flattened frame is always keyed
    return _bucket(kind, name, level, field=p["field"],
                   ranges=_num_ranges(f"range agg {name!r}", p["ranges"]))


@_agg("bucket", "date_range", subs=_level, siblings=True, field=FIELD,
      ranges=ANY, keyed=BOOL, format=NAME)
def _date_range(kind: str, name: str, p: dict, level: tuple) -> BucketAgg:
    # bounds are date strings (ES date-math resolves engine-side against
    # the injectable `now`); with a `format`, unnamed ranges get a None
    # key here and the engine renders the ES-style label from the
    # RESOLVED bound instants
    ctx, fmt = f"date_range agg {name!r}", p["format"]
    if fmt is not None:
        try:
            datemath.key_formatter(fmt)
        except datemath.DateMathError as e:
            raise DslError(f"{ctx}: {e}") from e
    out = []
    for e in _range_list(ctx, p["ranges"], {"from": STR, "to": STR,
                                            "key": SCALAR}):
        lo, hi, key = e["from"], e["to"], e["key"]
        if key is None and fmt is None:
            key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        out.append((None if key is None else str(key), lo, hi))
    return _bucket(kind, name, level, field=p["field"], key_format=fmt,
                   ranges=_unique_keys(ctx, out))


def _ip(ctx: str, v: str, net: bool = False) -> Any:
    """An IPv4 address (or CIDR block); IPv6 is an engine-subset
    error."""
    import ipaddress
    try:
        addr = (ipaddress.ip_network(v, strict=False) if net
                else ipaddress.ip_address(v))
    except ValueError:
        raise DslError(f"{ctx}: {v!r} is not a valid "
                       f"{'CIDR block' if net else 'IP address'}") from None
    if addr.version != 4:
        raise DslError(f"{ctx}: IPv6 {'masks' if net else 'bounds'} are "
                       "not supported (engine subset)")
    return addr


@_agg("bucket", "ip_range", subs=_level, siblings=True, field=FIELD,
      ranges=ANY, keyed=BOOL)
def _ip_range(kind: str, name: str, p: dict, level: tuple) -> BucketAgg:
    # bounds resolve to their 32-bit values at parse time (exact in the
    # float the range machinery carries); a `mask` is [network,
    # broadcast+1); default keys are ES's `from-to` or the mask
    ctx, out = f"ip_range agg {name!r}", []
    for e in _range_list(ctx, p["ranges"], {
            "from": STR(_NO_NULL), "to": STR(_NO_NULL),
            "mask": STR(_NO_NULL), "key": SCALAR}):
        if e["mask"] is not None:
            if e["from"] is not None or e["to"] is not None:
                raise DslError(f"{ctx}: 'mask' excludes 'from'/'to' (ES "
                               "contract)")
            net = _ip(ctx, e["mask"], net=True)
            lo, hi = int(net.network_address), \
                int(net.broadcast_address) + 1
            key = e["key"] or e["mask"]
        else:
            lo, hi = (None if e[s] is None else int(_ip(ctx, e[s]))
                      for s in ("from", "to"))
            key = e["key"] or f"{'*' if lo is None else e['from']}" \
                              f"-{'*' if hi is None else e['to']}"
        out.append((str(key), None if lo is None else float(lo),
                    None if hi is None else float(hi)))
    return _bucket(kind, name, level, field=p["field"],
                   ranges=_unique_keys(ctx, out))


def _named_clauses(v: Any) -> tuple[tuple[str, Node], ...]:
    if not isinstance(v, dict) or not v:
        raise ValueError(v)
    return tuple((n, _node(c)) for n, c in v.items())


_FILTERS = _Tag("a non-empty object of named query clauses",
                _named_clauses)


@_agg("bucket", "filters", subs=_level, siblings=True,
      filters=_FILTERS(_REQ), keyed=BOOL, other_bucket=BOOL(_NO_NULL),
      other_bucket_key=NAME(_NO_NULL))
def _filters(kind: str, name: str, p: dict, level: tuple) -> BucketAgg:
    # one bucket per named query; a doc joins EVERY bucket it matches.
    # other_bucket: the docs matching NONE of them, desugared to
    # Not(Or(all clauses))
    nodes, ob, key = (p["filters"], p["other_bucket"],
                      p["other_bucket_key"])
    if ob or key is not None:
        key = key or "_other_"
        if key in {n for n, _ in nodes}:
            raise DslError(f"filters other_bucket_key {key!r} collides "
                           "with a named filter bucket")
        if ob is not False:
            nodes += ((key, Not(Or(tuple(n for _, n in nodes)))),)
    return _bucket(kind, name, level, field="", filter_nodes=nodes)


@_agg("bucket", "adjacency_matrix", subs=_level, siblings=True,
      filters=_FILTERS(_REQ))
def _adjacency_matrix(kind: str, name: str, p: dict,
                      level: tuple) -> BucketAgg:
    if any("&" in n for n, _ in p["filters"]):
        raise DslError("adjacency_matrix filter names must not contain "
                       "'&' (the intersection separator)")
    return _bucket(kind, name, level, field="", filter_nodes=p["filters"])


@_agg("bucket", "ip_prefix", subs=_level, siblings=True, field=FIELD,
      prefix_length=_int_min(1, 32)(_REQ), is_ipv6=BOOL(False),
      append_prefix_length=BOOL(False), min_doc_count=INT0)
def _ip_prefix(kind: str, name: str, p: dict, level: tuple) -> BucketAgg:
    if p["is_ipv6"]:
        raise DslError(f"ip_prefix agg {name!r}: is_ipv6 is not "
                       "supported (engine subset — IPv4 dotted-quad "
                       "fields only)")
    return _bucket(kind, name, level, field=p["field"],
                   min_doc_count=p["min_doc_count"],
                   precision=p["prefix_length"],
                   append_prefix=p["append_prefix_length"])


@_agg("bucket", "rare_terms", subs=_no_subs, field=FIELD,
      max_doc_count=INT1(1))
def _rare_terms(kind: str, name: str, p: dict, sub: Any) -> BucketAgg:
    # buckets at or below max_doc_count, doc_count asc then key asc, no
    # top-size truncation
    return BucketAgg(name=name, kind=kind, field=p["field"],
                     size=p["max_doc_count"])


@_agg("bucket", "multi_terms", subs=_metric_subs, terms=_Tag(
    "a list of at least two {'field': ...} entries",
    lambda v: _list_of(v, _field_of("multi_terms terms"), 2))(_REQ),
    size=INT1(10))
def _multi_terms(kind: str, name: str, p: dict,
                 metrics: tuple) -> BucketAgg:
    # composite key over several fields, terms ordering, size cap;
    # flattened one column per source field
    flds = p["terms"]
    if len(set(flds)) != len(flds):
        raise DslError("duplicate multi_terms fields")
    return BucketAgg(name=name, kind=kind, field=flds[0],
                     multi_fields=flds, size=p["size"], metrics=metrics)


@_agg("bucket", "categorize_text", subs=_metric_subs, field=FIELD,
      size=INT1(10), note="engine subset — the adaptive drain-tree knobs "
      "are not reproducible")
def _categorize_text(kind: str, name: str, p: dict,
                     metrics: tuple) -> BucketAgg:
    # deterministic subset: group by an EXACT token template (lowercase
    # whitespace tokens, digit-bearing tokens masked to <num>) instead
    # of ES's adaptive drain tree, whose knobs are not reproducible
    return BucketAgg(name=name, kind=kind, field=p["field"],
                     size=p["size"], metrics=metrics)


@_agg("bucket", "geotile_grid", subs=_metric_subs, field=FIELD,
      precision=_int_min(0, 29)(7), size=INT1(10_000))
@_agg("bucket", "geohash_grid", subs=_metric_subs, field=FIELD,
      precision=_int_min(1, 12)(5), size=INT1(10_000))
def _geo_grid_agg(kind: str, name: str, p: dict,
                  metrics: tuple) -> BucketAgg:
    # web-mercator "z/x/y" tiles / base32 geohash cells of the
    # struct<lat,lon> field, doc_count desc + key asc
    return BucketAgg(name=name, kind=kind, field=p["field"],
                     size=p["size"], precision=p["precision"],
                     metrics=metrics)


@_agg("bucket", "geo_distance", subs=_metric_subs, field=FIELD,
      origin=_Tag("a geo point", lambda v: _geo_point(v, "origin"))(_REQ),
      ranges=ANY, unit=STR("m"),
      distance_type=_enum("arc", fold=True, desc="'arc' (engine subset — "
                          "one haversine formula on every plan)")("arc"))
def _geo_distance_agg(kind: str, name: str, p: dict,
                      metrics: tuple) -> BucketAgg:
    # range buckets over the haversine distance from `origin` in `unit`
    from cassandra_es_index_spark.functions.geo import _UNITS
    unit = p["unit"].lower()
    if unit not in _UNITS:
        raise DslError(f"geo_distance agg {name!r}: unknown distance "
                       f"unit {unit!r}")
    return BucketAgg(name=name, kind=kind, field=p["field"],
                     ranges=_num_ranges(f"range agg {name!r}",
                                        p["ranges"]),
                     geo_origin=(*p["origin"], _UNITS[unit]),
                     metrics=metrics)


@_agg("bucket", "auto_date_histogram", subs=_metric_subs, field=FIELD,
      buckets=INT1(10))
def _auto_date_histogram(kind: str, name: str, p: dict,
                         metrics: tuple) -> BucketAgg:
    # targets a bucket COUNT: the engine picks the smallest interval of
    # its ladder that fits the data's span (resolved in search_aggs)
    return BucketAgg(name=name, kind=kind, field=p["field"],
                     buckets=p["buckets"], metrics=metrics)


@_agg("bucket", "variable_width_histogram", subs=_metric_subs,
      field=FIELD, buckets=_int_min(1, 256)(10), note="engine subset: "
      "field + buckets; ES's shard_size/initial_buffer tune its streaming "
      "clusterer, which the deterministic gap-split replaces")
def _variable_width_histogram(kind: str, name: str, p: dict,
                              metrics: tuple) -> BucketAgg:
    # deterministic analogue of ES's streaming clusterer: split the
    # sorted DISTINCT values at the buckets−1 largest adjacent gaps
    return BucketAgg(name=name, kind=kind, field=p["field"],
                     buckets=p["buckets"], metrics=metrics)


def _one_field(v: Any) -> str:
    if not isinstance(v, list) or len(v) != 1:
        raise ValueError(v)
    return _field_of("frequent_item_sets fields").check(v[0])


@_agg("bucket", "frequent_item_sets", subs=_no_subs, fields=_Tag(
    "exactly one field, as [{'field': name}] (engine subset)",
    _one_field)(_REQ),
    minimum_support=_number(0, 1, lo_open=True)(0.1),
    minimum_set_size=_tag(
        "2 or 3 (engine subset: the pair/triple A-priori miner; sets are "
        "EXACTLY that size, a documented deviation from ES's ≥-size "
        "ECLAT)", lambda v: _is_int(v) and v in (2, 3))(2),
    size=_int_min(1, 10000)(10))
def _frequent_item_sets(kind: str, name: str, p: dict,
                        sub: Any) -> BucketAgg:
    # frequent co-occurring item pairs/triples across documents (items:
    # a doc's distinct analyzed tokens or array elements)
    return BucketAgg(name=name, kind=kind, field=p["fields"],
                     size=p["size"], interval=p["minimum_support"],
                     precision=p["minimum_set_size"])


_FLAG = _tag("true or false (heuristic flags are booleans)",
             lambda v: isinstance(v, bool))


def _heuristic(key: str, flags: bool) -> _Tag:
    spec = {"include_negatives": _FLAG(False),
            "background_is_superset": _FLAG(True)} if flags else {}
    return _Tag("an object", lambda v: _params(
        f"{key} heuristic", v, spec,
        what=f"takes {sorted(spec) or 'no'} params, got"))(_NO_NULL)


_SIG_HEURISTICS = dict(jlh=_heuristic("jlh", False),
                       percentage=_heuristic("percentage", False),
                       chi_square=_heuristic("chi_square", True),
                       mutual_information=_heuristic("mutual_information",
                                                     True),
                       gnd=OBJECT(_NO_NULL))


@_agg("bucket", "significant_terms", "significant_text", subs=_no_subs,
      field=FIELD, size=INT1, background_filter=_Tag(
          "a query clause object", _clause_object), min_doc_count=INT1(1),
      **_SIG_HEURISTICS)
def _significant(kind: str, name: str, p: dict, sub: Any) -> BucketAgg:
    # foreground-vs-background scored terms (significant_text: the
    # analyzed tokens of a text field); at most one heuristic, jlh by
    # default; gnd's score transform is ES-version-dependent. ENGINE
    # DEFAULT min_doc_count 1 (ES: 3) — every matched term ranks.
    chosen = [h for h in _SIG_HEURISTICS if p[h] is not None]
    if len(chosen) > 1:
        raise DslError(f"{kind} agg {name!r}: at most one significance "
                       f"heuristic, got {chosen}")
    if chosen == ["gnd"]:
        raise DslError(f"{kind} agg {name!r}: gnd is not supported "
                       "(engine subset — its score transform is "
                       "ES-version-dependent; use jlh/chi_square/"
                       "mutual_information/percentage)")
    h = chosen[0] if chosen else "jlh"
    flags = p[h] or {}
    return BucketAgg(name=name, kind=kind, field=p["field"],
                     size=p["size"], bg_filter=p["background_filter"],
                     min_doc_count=p["min_doc_count"], sig_heuristic=(
                         h, flags.get("include_negatives", False),
                         flags.get("background_is_superset", True)))


# ------------------------------------------------ composite, single-bucket,
# sampler and join kinds (top level)

_SOURCE_SPECS = {
    "terms": {},
    "histogram": {"interval": _number(0, lo_open=True, keep=True)(_REQ)},
    "date_histogram": {"calendar_interval": NAME, "fixed_interval": NAME,
                       "offset": _OFFSET, "time_zone": NAME},
    "geotile_grid": {"precision": _int_min(0, 29)(7)},
}


def _source(s: Any) -> CompositeSource:
    """One composite source ``{name: {kind: {...}}}``; a date_histogram
    source folds its offset and FIXED time_zone into one boundary shift
    (keyset `after` anchors need fixed instants)."""
    if not isinstance(s, dict) or len(s) != 1:
        raise DslError("each composite source must be {name: {kind: "
                       "{...}}}")
    (sname, sbody), = s.items()
    if not isinstance(sbody, dict) or len(sbody) != 1:
        raise DslError(f"composite source {sname!r} must have exactly "
                       "one kind")
    (skind, sparams), = sbody.items()
    if skind not in _SOURCE_SPECS:
        raise DslError(f"unsupported composite source kind {skind!r}")
    p = _params(f"composite source {sname!r} ({skind})", sparams, dict(
        field=FIELD, order=_ASC("asc"), missing_bucket=BOOL(False),
        **_SOURCE_SPECS[skind]))
    soff = p.get("offset") or 0.0
    if skind == "date_histogram":
        if p["calendar_interval"] is None and p["fixed_interval"] is None:
            raise DslError("date_histogram source needs a "
                           "'calendar_interval' or 'fixed_interval'")
        if p["time_zone"] is not None:
            tzs = _fixed_tz_seconds(p["time_zone"])
            if tzs is None:
                raise DslError(
                    "composite date_histogram time_zone must be a fixed "
                    "offset (keyset 'after' anchors need fixed instants)"
                    " — named zones work on the plain date_histogram "
                    "agg")
            soff -= tzs
    return CompositeSource(
        sname, skind, p["field"], interval=p.get("interval"),
        calendar_interval=p.get("calendar_interval"),
        fixed_interval=p.get("fixed_interval"), offset_sec=soff,
        asc=p["order"] == "asc", missing_bucket=p["missing_bucket"],
        precision=p.get("precision", 7))


@_agg("top", "composite", subs=_metric_subs, sources=_Tag(
    "a non-empty list of sources",
    lambda v: tuple(_source(s) for s in _list_of(v, ANY)))(_REQ),
    size=INT1(10), after=OBJECT)
def _composite(kind: str, name: str, p: dict,
               metrics: tuple) -> CompositeAgg:
    # ALL distinct combinations of the source keys, ordered by the
    # source tuple, paged with size + the `after` keyset cursor
    names = [s.name for s in p["sources"]]
    if len(set(names)) != len(names):
        raise DslError("duplicate composite source names")
    after = p["after"]
    if after is not None:
        if set(after) != set(names):
            raise DslError("composite 'after' must provide one value per "
                           "source")
        after = tuple(after[n] for n in names)
    return CompositeAgg(name, p["sources"], size=p["size"], after=after,
                        metrics=metrics)


@_agg("top", "nested", subs=_any_subs, path=NAME(_REQ))
def _nested_agg(kind: str, name: str, p: dict, sub: Any) -> NestedAgg:
    if "." in p["path"]:
        raise DslError(f"nested agg {name!r}: path must be a top-level "
                       "array field (one nested level — engine subset)")
    if isinstance(sub, (NestedAgg, SamplerAgg)):
        raise DslError("nested aggs hold ordinary bucket/metric sub-aggs "
                       "only (no nested-in-nested or sampler — engine "
                       "subset)")
    return NestedAgg(name, p["path"], sub=sub)


@_agg("top", "children", "parent", subs=_any_subs, type=NAME(_REQ))
def _join_agg(kind: str, name: str, p: dict, sub: Any) -> RelAgg:
    # `type`: the relation name from the join mapping (see
    # register_relation)
    if isinstance(sub, (RelAgg, SamplerAgg)) or (
            isinstance(sub, SingleBucketAgg) and sub.kind == "global"):
        raise DslError(
            f"{kind} agg {name!r}: sampler/global/join sub-aggs are not "
            "supported under a join agg (they would score or scope "
            "against the wrong table — engine subset)")
    return RelAgg(name, kind, p["type"], sub=sub)


def _sampler_sub(sub: Any) -> Any:
    if isinstance(sub, SamplerAgg):
        raise DslError("sampler aggs do not nest (top level only)")
    return sub


@_agg("top", "sampler", subs=_any_subs, null=True,
      what="unsupported parameters", shard_size=INT1(100))
@_agg("top", "diversified_sampler", subs=_any_subs, null=True,
      what="unsupported parameters", shard_size=INT1(100), field=FIELD,
      max_docs_per_value=INT1(1))
def _sampler(kind: str, name: str, p: dict, sub: Any) -> SamplerAgg:
    return SamplerAgg(name, kind, shard_size=p["shard_size"],
                      field=p.get("field", ""),
                      max_docs_per_value=p.get("max_docs_per_value", 1),
                      sub=_sampler_sub(sub))


@_agg("top", "random_sampler", subs=_any_subs, null=True,
      probability=_number(0, 1, lo_open=True)(_REQ), seed=INT0(0))
def _random_sampler(kind: str, name: str, p: dict,
                    sub: Any) -> SamplerAgg:
    # a DETERMINISTIC multiplicative hash of the primary key keeps
    # ≈ probability of the match set: same seed, same sample
    return SamplerAgg(name, kind, probability=p["probability"],
                      seed=p["seed"], sub=_sampler_sub(sub))


def _single_bucket(kind: str, name: str, subs: dict,
                   clause: Any) -> Any:
    """A filter/missing agg with a BUCKET sub-agg desugars to a
    one-entry ``filters`` bucket named after the agg; with metric
    sub-aggs it is a SingleBucketAgg (None here)."""
    if any(_role(_agg_kind(n, sp)) == "bucket" for n, sp in subs.items()):
        return _aggs({name: {"filters": {"filters": {name: clause}},
                             "aggs": subs}})
    return None


@_agg("top", "filter", subs=_raw_subs, raw=True)
def _filter_agg(kind: str, name: str, body: Any, subs: dict) -> Any:
    if not isinstance(body, dict) or not body:
        raise DslError(f"filter agg {name!r} needs a query clause")
    return _single_bucket(kind, name, subs, body) or SingleBucketAgg(
        name, "filter", node=_node(body),
        metrics=_metric_subs(kind, subs))


@_agg("top", "missing", subs=_raw_subs, field=FIELD)
def _missing_agg(kind: str, name: str, p: dict, subs: dict) -> Any:
    # the missing bucket IS the docs where the field is absent
    return _single_bucket(kind, name, subs, {"bool": {"must_not": [
        {"exists": {"field": p["field"]}}]}}) or SingleBucketAgg(
        name, "missing", field=p["field"],
        metrics=_metric_subs(kind, subs))


@_agg("top", "global", subs=_raw_subs, raw=True)
def _global_agg(kind: str, name: str, body: Any, subs: dict) -> Any:
    # ALL documents, ignoring the query; the body is {} (ES syntax)
    if body not in ({}, None):
        raise DslError(f"global agg {name!r} takes no parameters, got "
                       f"{body!r}")
    return SingleBucketAgg(name, "global", metrics=_metric_subs(kind, subs))


# --------------------------------------------------------- top_hits

@_agg("top_hits", "top_hits", size=INT1(3), _source=_Tag(
    "a field name or list of field names",
    lambda v: (v,) if isinstance(v, str) else _list_of(v, STR, 0))(()),
    sort=_SORT)
def _top_hits(kind: str, name: str, p: dict, sub: Any) -> TopHits:
    # the top `size` documents per bucket under `sort` (primary key
    # tiebreak), one output row per hit; innermost bucket level only
    th_sort = p["sort"] or ()
    if any(isinstance(f, GeoSort) for f, *_ in th_sort):
        raise DslError(f"top_hits agg {name!r}: _geo_distance sort is "
                       "not supported inside top_hits (engine subset)")
    return TopHits(size=p["size"], sort=th_sort, source=p["_source"])


# ------------------------------------------------- per-level pipelines
#
# Computed over the key-ordered bucket frame of the level they sit in;
# the payload each builder returns is checked against the level's
# metrics by the row's `resolve`.

def _known_path(pn: str, path: str, valid: set) -> None:
    if path not in valid:
        raise DslError(f"pipeline agg {pn!r}: unknown buckets_path "
                       f"{path!r}")


def _first_path(pn: str, payload: Any, metrics: tuple, valid: set) -> Any:
    _known_path(pn, payload if isinstance(payload, str) else payload[0],
                valid)
    return payload


def _script_paths(pn: str, payload: Any, metrics: tuple,
                  valid: set) -> Any:
    for tgt in payload[1].values():
        _known_path(pn, tgt, valid)
    return payload


def _sort_paths(pn: str, payload: Any, metrics: tuple, valid: set) -> Any:
    for fld, _asc, _nf in payload[0]:
        if fld not in valid | {"_key"}:
            raise DslError(f"bucket_sort {pn!r}: unknown sort target "
                           f"{fld!r}")
    return payload


def _metric_path(kind: str, metric: str, why: str):
    """Resolve a buckets_path that must name a sibling ``metric`` of
    this level: its field (and percents) drive a pass over the source
    rows, since per-bucket values don't merge."""
    def resolve(pn: str, payload: Any, metrics: tuple, valid: set) -> Any:
        path = payload if isinstance(payload, str) else payload[0]
        tgt = next((m for m in metrics
                    if m.name == path and m.kind == metric), None)
        if tgt is None:
            raise DslError(f"{kind} agg {pn!r}: buckets_path {path!r} "
                           f"must name a sibling {metric} metric{why}")
        return (path, tgt.field) if isinstance(payload, str) \
            else (path, tgt.field, tgt.percents, *payload[1:])
    return resolve


_INT = _int_min(-math.inf)


@_agg("pipeline", "cumulative_sum", ordered=True, resolve=_first_path,
      buckets_path=NAME(_REQ))
def _cumulative_sum(kind: str, name: str, p: dict, sub: Any) -> Any:
    return p["buckets_path"]


@_agg("pipeline", "derivative", ordered=True, resolve=_first_path,
      buckets_path=NAME(_REQ), unit=_tag(
          "a fixed interval ('30s'/'5m'/'1h'/'7d')",
          lambda v: isinstance(v, str)
          and _re.fullmatch(r"\d+[smhd]", v.strip()))(_NO_NULL))
def _derivative(kind: str, name: str, p: dict, sub: Any) -> Any:
    # `unit` adds a `<name>_normalized` column: the derivative per unit
    # span (fixed-interval parents only, checked at execution)
    if p["unit"] is None:
        return p["buckets_path"]
    return (p["buckets_path"], "unit", p["unit"])


@_agg("pipeline", "serial_diff", ordered=True, resolve=_first_path,
      buckets_path=NAME(_REQ), lag=INT1(1))
def _serial_diff(kind: str, name: str, p: dict, sub: Any) -> Any:
    return (p["buckets_path"], p["lag"])


def _moving_function(v: Any) -> str:
    m = _re.fullmatch(r"MovingFunctions\.(unweightedAvg|min|max|sum)"
                      r"\(values\)", v.strip()) \
        if isinstance(v, str) else None
    if m is None:
        raise ValueError(v)
    return m.group(1)


@_agg("pipeline", "moving_fn", ordered=True, resolve=_first_path,
      buckets_path=NAME(_REQ), script=_Tag(
          "MovingFunctions.unweightedAvg/min/max/sum(values) (the "
          "built-in window functions — engine subset)",
          _moving_function)(_REQ), window=INT1(_REQ), shift=_INT(0))
def _moving_fn(kind: str, name: str, p: dict, sub: Any) -> Any:
    return (p["buckets_path"], p["script"], p["window"], p["shift"])


@_agg("pipeline", "moving_avg", ordered=True, resolve=_first_path,
      note="engine subset; minimize/predict change the result "
      "nondeterministically",
      buckets_path=NAME(_REQ), window=_int_min(1, 100)(5),
      model=_enum("simple", "linear", "ewma", desc=(
          "simple/linear/ewma (engine subset — holt/holt_winters fit "
          "parameters)"))("simple"),
      settings=_Tag("{'alpha': number}", lambda v: _params(
          "moving_avg settings", v,
          {"alpha": _number(0, 1, lo_open=True)(_NO_NULL)})))
def _moving_avg(kind: str, name: str, p: dict, sub: Any) -> Any:
    # ES's legacy moving_avg (removed in ES 8, common in older bodies):
    # the window INCLUDES the current bucket; minimize/predict fit or
    # extrapolate, out of the deterministic frame contract
    alpha = (p["settings"] or {}).get("alpha")
    if alpha is not None and p["model"] != "ewma":
        raise DslError(f"moving_avg agg {name!r}: alpha applies to the "
                       "ewma model only")
    return (p["buckets_path"], p["model"], p["window"],
            0.3 if alpha is None else alpha)


@_agg("pipeline", "moving_percentiles", ordered=True,
      resolve=_metric_path("moving_percentiles", "percentiles",
                           " (its field and percents drive the "
                           "source-window pass)"),
      buckets_path=NAME(_REQ), window=_int_min(1, 1000)(_NO_NULL),
      shift=_INT(0))
def _moving_percentiles(kind: str, name: str, p: dict, sub: Any) -> Any:
    # EXACT percentiles over the window's SOURCE rows (per-bucket
    # percentiles don't merge; ES merges TDigest sketches); each source
    # row fans out to `window` bucket windows, hence the bound
    if p["window"] is None:
        raise DslError(f"moving_percentiles agg {name!r}: window must be "
                       "an integer in [1, 1000]")
    return (p["buckets_path"], p["window"], p["shift"])


@_agg("pipeline", "cumulative_cardinality", ordered=True,
      resolve=_metric_path("cumulative_cardinality", "cardinality",
                           " at this level (its field drives the "
                           "first-appearance pass)"),
      buckets_path=NAME(_REQ))
def _cumulative_cardinality(kind: str, name: str, p: dict,
                            sub: Any) -> Any:
    return p["buckets_path"]


# ES normalize methods → the rescaling applied per bucket over its
# parent's bucket frame; z-score uses the POPULATION deviation
# (extended_stats convention); a constant frame (max == min) or zero sum
# yields null values (Spark 0-divisor), documented
_NORMALIZE_METHODS = ("rescale_0_1", "rescale_0_100", "percent_of_sum",
                      "mean", "z-score", "softmax")


@_agg("pipeline", "normalize", resolve=_first_path, buckets_path=NAME(_REQ),
      method=_enum(*_NORMALIZE_METHODS, desc="one of " + ", ".join(
          _NORMALIZE_METHODS))(_NO_NULL))
def _normalize(kind: str, name: str, p: dict, sub: Any) -> Any:
    # any multi-bucket parent qualifies (ES normalize)
    if p["method"] is None:
        raise DslError(f"normalize agg {name!r}: method must be one of "
                       f"{', '.join(_NORMALIZE_METHODS)}")
    return (p["buckets_path"], p["method"])


@_agg("pipeline", "bucket_script", "bucket_selector",
      resolve=_script_paths, buckets_path=_tag(
          "a non-empty {param: path} object",
          lambda v: isinstance(v, dict) and v
          and all(isinstance(x, str) for x in v.values()))(_REQ),
      script=STR(_REQ))
def _bucket_script(kind: str, name: str, p: dict, sub: Any) -> Any:
    # arithmetic/comparison over params refs, translated to Spark SQL
    paths = dict(p["buckets_path"])
    return (_compile_bucket_script(name, p["script"], paths), paths)


@_agg("pipeline", "bucket_sort", resolve=_sort_paths, sort=_SORT,
      size=INT1)
def _bucket_sort(kind: str, name: str, p: dict, sub: Any) -> Any:
    # sort targets are bucket columns: _key, _count or a metric
    if not p["sort"] and p["size"] is None:
        raise DslError(f"bucket_sort agg {name!r} needs 'sort' and/or "
                       "'size'")
    return (p["sort"] or (), p["size"])


# ---------------------------------------------------- sibling pipelines
#
# One value (or a flattened stat set, see `sibling_out_names`) computed
# OVER a bucket agg's frame, declared NEXT TO it (ES syntax) and emitted
# as constant columns on every bucket row. A builder returns (buckets
# path, the kind's extra slot).

_BUCKETS_PATH = _tag("a path of the form 'bucket>metric'",
                     lambda v: isinstance(v, str) and ">" in v)(_REQ)


@_agg("sibling", "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
      "stats_bucket", "extended_stats_bucket", "change_point",
      buckets_path=_BUCKETS_PATH)
@_agg("sibling", "percentiles_bucket", buckets_path=_BUCKETS_PATH,
      percents=_PERCENTS(_DEFAULT_PERCENTS))
def _sibling(kind: str, name: str, p: dict, sub: Any) -> tuple:
    # change_point: the BEST MEAN-SHIFT split (argmax of the two-segment
    # Welch t), `step_change` when its two-sided p < 0.05, else
    # `stationary` — ES's detector agglomerate is not reproducible
    return (p["buckets_path"], p.get("percents", ()))


@_agg("sibling", "bucket_count_ks_test", buckets_path=_BUCKETS_PATH,
      note="engine subset — sampling_method would silently change the "
      "statistic",
      alternative=_Tag(
          "a non-empty list of less/greater/two_sided",
          lambda v: _list_of(v, _enum("less", "greater", "two_sided")))(
          ("less", "greater", "two_sided")),
      fractions=_Tag("≥2 non-negative numbers with a positive sum",
                     lambda v: _list_of(v, _number(0), 2)))
def _ks_test(kind: str, name: str, p: dict, sub: Any) -> tuple:
    # Kolmogorov-Smirnov of the bucket-count distribution against
    # `fractions` (default uniform), p-values from the ASYMPTOTIC null
    # distributions; `sampling_method` would change which docs n counts
    fr = p["fractions"]
    if fr is not None and sum(fr) <= 0:
        raise DslError(f"bucket_count_ks_test agg {name!r}: fractions "
                       "must be ≥2 non-negative numbers with a positive "
                       "sum")
    return (p["buckets_path"], (tuple(dict.fromkeys(p["alternative"])),
                                fr))


def _correlation(v: Any) -> tuple[float, ...]:
    """The indicator expectations of ``{"count_correlation":
    {"indicator": {"expectations": [...]}}}``; plain Pearson, so a
    doc_count (which scales the statistic) is rejected."""
    cc = _params("bucket_correlation function", v,
                 {"count_correlation": OBJECT(_REQ)})["count_correlation"]
    ind = _params("count_correlation", cc,
                  {"indicator": OBJECT(_REQ)})["indicator"]
    return _params("bucket_correlation indicator", ind, {"expectations": _Tag(
        "a list of ≥2 numbers", lambda e: _list_of(e, _number(), 2))(_REQ)},
        note="engine subset: plain Pearson — doc_count scaling would "
             "silently change the statistic")["expectations"]


@_agg("sibling", "bucket_correlation", buckets_path=_BUCKETS_PATH,
      function=_Tag("{'count_correlation': {'indicator': {...}}}",
                    _correlation))
def _bucket_correlation(kind: str, name: str, p: dict, sub: Any) -> tuple:
    # Pearson correlation of the key-ascending bucket series with the
    # indicator expectations
    if p["function"] is None:
        raise DslError(f"bucket_correlation agg {name!r} needs "
                       "{'function': {'count_correlation': "
                       "{'indicator': {...}}}}")
    return (p["buckets_path"], p["function"])


def _sqs_parse(text: str, field: str | None, default_op: str) -> Node:
    """ES ``simple_query_string`` parser — the LENIENT grammar: ``+``
    (AND), ``|`` (OR), ``-`` (negate next clause), ``"..."``~N phrases,
    trailing-``*`` prefixes, ``word~N`` fuzziness, ``( )`` grouping;
    juxtaposed clauses join with ``default_operator``. AND binds tighter
    than OR (Lucene SimpleQueryParser precedence). Lenient by contract:
    malformed syntax never raises — an unmatched quote drops, an
    unmatched ``(`` opens a group to end-of-input, stray operators are
    skipped, and an all-empty query is ``match_none`` (the ES builder's
    MatchNoDocsQuery rewrite for empty query text). DEVIATION
    (documented): a mid-word hyphen splits into a negation (tokens are
    ``\\s()|+-"``-delimited), and Lucene's left-assoc operator chaining
    is approximated by the AND-over-OR precedence grammar."""
    toks: list[tuple[str, Any]] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c.isspace():
            i += 1
            continue
        if c in "()|+-":
            toks.append((c, c))
            i += 1
            continue
        if c == '"':
            j = text.find('"', i + 1)
            if j == -1:
                i += 1      # lenient: unmatched quote drops
                continue
            phrase = text[i + 1:j]
            i = j + 1
            slop = 0
            m = _re.match(r"~(\d+)", text[i:])
            if m:
                slop = int(m.group(1))
                i += m.end()
            if phrase.strip():
                toks.append(("phrase", (phrase, slop)))
            continue
        m = _re.match(r'[^\s()|+\-"]+', text[i:])
        toks.append(("word", m.group(0)))
        i += m.end()

    pos = 0

    def peek() -> str | None:
        return toks[pos][0] if pos < len(toks) else None

    def leaf(kind: str, val: Any) -> Node:
        if kind == "phrase":
            return Phrase(field, val[0], val[1])
        w = val
        m = _re.fullmatch(r"(.+)~(\d+)", w)
        if m:
            return Fuzzy(field, m.group(1), int(m.group(2)))
        if w.endswith("~"):
            return Fuzzy(field, w[:-1], None)   # AUTO budget
        if ("*" in w or "?" in w) and w.strip("*?"):
            return Wildcard(field, w)
        return Term(field, w)

    def parse_unary() -> Node | None:
        nonlocal pos
        while peek() in ("+", "|"):     # stray infix operator — skip
            pos += 1
        k = peek()
        if k is None or k == ")":
            return None
        if k == "-":
            pos += 1
            inner = parse_unary()
            return None if inner is None else Not(inner)
        if k == "(":
            pos += 1
            inner = parse_or()
            if peek() == ")":
                pos += 1
            return inner
        kind, val = toks[pos]
        pos += 1
        return leaf(kind, val)

    def parse_and() -> Node | None:
        nonlocal pos
        parts: list[Node] = []
        first = parse_unary()
        if first is not None:
            parts.append(first)
        while True:
            k = peek()
            if k == "+":
                pos += 1
                nxt = parse_unary()
                if nxt is not None:
                    parts.append(nxt)
                continue
            if k in ("word", "phrase", "(", "-") and default_op == "and":
                nxt = parse_unary()
                if nxt is not None:
                    parts.append(nxt)
                continue
            break
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def parse_or() -> Node | None:
        nonlocal pos
        parts: list[Node] = []
        first = parse_and()
        if first is not None:
            parts.append(first)
        while True:
            k = peek()
            if k == "|":
                pos += 1
            elif k in ("word", "phrase", "(", "-") and default_op == "or":
                pass
            else:
                break
            nxt = parse_and()
            if nxt is not None:
                parts.append(nxt)
        if not parts:
            return None
        # Lucene SQP: a negated clause is a MUST_NOT on the ENCLOSING
        # group, never a disjunct — `foo | -bar` matches foo AND NOT bar
        positives = [p for p in parts if not isinstance(p, Not)]
        negs = [p for p in parts if isinstance(p, Not)]
        core = (positives[0] if len(positives) == 1
                else Or(tuple(positives)) if positives else MatchAll())
        if negs:
            return And((core, *negs))
        return core

    node = parse_or()
    # pure-negation queries (`-foo`) gate like ES: everything except the
    # match set; wrap with match_all so the And has a positive driver
    if isinstance(node, Not):
        node = And((MatchAll(), node))
    # ES SimpleQueryStringQueryBuilder: empty/all-dropped query text
    # rewrites to MatchNoDocsQuery, not match_all
    return node if node is not None else MatchNone()


def _geo_point(raw: Any, ctx: str) -> tuple[float, float]:
    """(lat, lon) of an ES geo point literal — ``{"lat", "lon"}``
    object, ``[lon, lat]`` array (GeoJSON order, ES parity), or
    ``"lat,lon"`` string — range-checked."""
    if isinstance(raw, dict) and set(raw) == {"lat", "lon"}:
        lat, lon = raw["lat"], raw["lon"]
    elif isinstance(raw, list) and len(raw) == 2:
        lon, lat = raw
    elif isinstance(raw, str) and raw.count(",") == 1:
        lat, lon = raw.split(",")
    else:
        raise DslError(f"{ctx}: bad geo point {raw!r}")
    try:
        lat_f, lon_f = float(lat), float(lon)
    except (TypeError, ValueError) as e:
        raise DslError(f"{ctx}: bad geo point {raw!r}") from e
    if not -90.0 <= lat_f <= 90.0:
        raise DslError(f"{ctx}: latitude {lat_f} out of [-90, 90]")
    if not -180.0 <= lon_f <= 180.0:
        raise DslError(f"{ctx}: longitude {lon_f} out of [-180, 180]")
    return lat_f, lon_f


def shape_to_node(gfield: str, shape: Any, rel: str) -> Node:
    """Desugar one geo_shape body (GeoJSON-ish dict, validated) onto
    the bbox/polygon algebra for the point corpus — shared by the
    inline ``shape`` form and the engine's ``indexed_shape``
    resolution (``SearchEngine._expand_data_nodes``), so both forms
    inherit identical scan predicates AND the covering-cell
    index-served plan. ``rel`` must be pre-validated
    (intersects/within/disjoint)."""
    if not isinstance(shape, dict):
        raise DslError(
            "geo_shape shape needs {'type': ..., 'coordinates': ...}")
    stype = str(shape.get("type", "")).lower()
    coords = shape.get("coordinates")

    def _rel(node: Node) -> Node:
        # point corpus (r11): `within` ≡ `intersects` (a point is
        # within the query shape iff it intersects it); `disjoint`
        # ≡ has-a-point AND NOT intersects — ES only matches docs
        # that HAVE the field, and GeoExists checks both
        # coordinates (a struct of two nulls is non-null). Score
        # stays 1 per match (GeoExists 1 + Not 0).
        if rel == "disjoint":
            return And((GeoExists(gfield), Not(node)))
        return node

    if stype == "envelope":
        # GeoJSON-ish ES envelope: [[minLon, maxLat],
        # [maxLon, minLat]] — top-left then bottom-right
        if not isinstance(coords, list) or len(coords) != 2:
            raise DslError(
                "geo_shape envelope needs [[lon, lat], [lon, lat]]"
                " (top-left, bottom-right)")
        top, left = _geo_point(coords[0], "geo_shape envelope")
        bottom, right = _geo_point(coords[1], "geo_shape envelope")
        if bottom > top:
            raise DslError(
                "geo_shape envelope top-left must be north of "
                "bottom-right")
        # left > right wraps the antimeridian, like
        # geo_bounding_box (r9 semantics)
        return _rel(GeoBoundingBox(gfield, top, left, bottom, right))
    if stype == "point":
        # point ∩ point-corpus: exact coordinate match — the
        # degenerate box, which both plans already serve
        plat, plon = _geo_point(coords, "geo_shape point")
        return _rel(GeoBoundingBox(gfield, plat, plon, plat, plon))
    if stype == "polygon":
        if not isinstance(coords, list) or not coords \
                or not isinstance(coords[0], list):
            raise DslError(
                "geo_shape polygon needs [[[lon, lat], ...]] ring "
                "coordinates")
        if len(coords) > 1:
            raise DslError(
                "geo_shape polygon holes (inner rings) are not "
                "supported (engine subset)")
        pts = [_geo_point(p, "geo_shape polygon")
               for p in coords[0]]
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]   # GeoJSON closed ring → implicit close
        if len(pts) < 3:
            raise DslError("geo_shape polygon ring needs at least "
                           "3 distinct points")
        return _rel(GeoPolygon(gfield, tuple(pts)))
    if stype == "multipolygon":
        # GeoJSON multipolygon (r11): [[outer-ring, holes...],
        # ...] — point-in-multipolygon ≡ OR over the member
        # polygons (holes reject like single polygons). Score =
        # number of containing polygons (the engine's Or
        # convention; ES scores a flat 1 — documented deviation,
        # same match set for non-overlapping members).
        if not isinstance(coords, list) or not coords \
                or not all(isinstance(pg, list) and pg
                           and isinstance(pg[0], list)
                           for pg in coords):
            raise DslError(
                "geo_shape multipolygon needs [[[[lon, lat], "
                "...]], ...] polygon coordinates")
        polys: list[Node] = []
        for pg in coords:
            if len(pg) > 1:
                raise DslError(
                    "geo_shape polygon holes (inner rings) are "
                    "not supported (engine subset)")
            pts = [_geo_point(p, "geo_shape multipolygon")
                   for p in pg[0]]
            if len(pts) > 1 and pts[0] == pts[-1]:
                pts = pts[:-1]
            if len(pts) < 3:
                raise DslError(
                    "geo_shape polygon ring needs at least 3 "
                    "distinct points")
            polys.append(GeoPolygon(gfield, tuple(pts)))
        return _rel(polys[0] if len(polys) == 1
                    else Or(tuple(polys)))
    if stype == "circle":
        # ES circle shape (r12): center [lon, lat] + "radius" distance
        # string — point-in-circle ≡ the geo_distance haversine
        # predicate, so both geo plans serve it unchanged
        radius = shape.get("radius")
        if radius is None:
            raise DslError("geo_shape circle needs a 'radius' "
                           "(ES distance string, e.g. '10km')")
        from cassandra_es_index_spark.functions.geo import (
            distance_meters,
        )
        try:
            meters = distance_meters(radius)
        except ValueError as e:
            raise DslError(str(e)) from e
        clat, clon = _geo_point(coords, "geo_shape circle")
        return _rel(GeoDistance(gfield, clat, clon, meters))

    def _line_pts(raw, what: str) -> tuple:
        if not isinstance(raw, list) or len(raw) < 2:
            raise DslError(f"{what} needs at least 2 [lon, lat] "
                           "points")
        if len(raw) > 128:
            raise DslError(f"{what} supports at most 128 points "
                           "(engine subset)")
        return tuple(_geo_point(p, what) for p in raw)

    if stype == "linestring":
        # measure-zero against the point corpus by construction
        # (exact on-segment doubles) — implemented, documented in
        # GeoOnLine; within ≡ intersects (a point within a line is
        # on it), disjoint composes via the GeoExists leg
        return _rel(GeoOnLine(gfield,
                              _line_pts(coords, "geo_shape "
                                                "linestring")))
    if stype == "multilinestring":
        if not isinstance(coords, list) or not coords:
            raise DslError("geo_shape multilinestring needs "
                           "[[[lon, lat], ...], ...] line "
                           "coordinates")
        lines = tuple(
            GeoOnLine(gfield, _line_pts(ln, "geo_shape "
                                            "multilinestring"))
            for ln in coords)
        return _rel(lines[0] if len(lines) == 1 else Or(lines))
    if stype == "geometrycollection":
        # GeoJSON GeometryCollection (r12): the UNION of its member
        # shapes — each member desugars recursively WITHOUT the
        # relation (intersects semantics), the union wraps once, and
        # `_rel` applies the within/disjoint treatment to the whole
        # collection (disjoint-from-a-collection = disjoint from
        # every member, which Not(Or(...)) gives exactly)
        geoms = shape.get("geometries")
        if not isinstance(geoms, list) or not geoms:
            raise DslError("geo_shape geometrycollection needs a "
                           "non-empty 'geometries' list")
        if len(geoms) > 32:
            raise DslError("geo_shape geometrycollection supports at "
                           "most 32 member geometries (engine subset)")
        members = tuple(shape_to_node(gfield, g, "intersects")
                        for g in geoms)
        return _rel(members[0] if len(members) == 1 else Or(members))
    raise DslError(
        f"geo_shape type {shape.get('type')!r} is not supported "
        "(engine subset: envelope / polygon / multipolygon / point / "
        "circle / linestring / multilinestring / geometrycollection)")


_SPAN_MULTI_FUZZY = dict(value=SCALAR(_REQ), fuzziness=FUZZINESS,
                         transpositions=BOOL(False), prefix_length=INT0(0))


def _span_clause_terms(clause: Any) -> tuple[str, tuple[str, ...]]:
    """(field, terms) of a single-token span clause — ``span_term`` or
    ``span_or`` of span_terms (nesting collapses: a union of unions is
    a union). The engine's documented span subset: composite spans
    (span_near inside span_or etc.) are rejected with a typed error,
    like span_near's two-clause shape."""
    if not isinstance(clause, dict) or len(clause) != 1:
        raise DslError("span clause must be span_term or span_or")
    (k, v), = clause.items()
    if k == "span_term":
        fld, p = _leaf(k, v, "value", _SPECS[k])
        return fld, (_scalar(p["value"]),)
    if k == "span_or":
        if not isinstance(v, dict) \
                or not isinstance(v.get("clauses"), list) \
                or not v["clauses"]:
            raise DslError(
                "span_or needs {'clauses': [span_term, ...]}")
        fields: set[str] = set()
        terms: list[str] = []
        for cl in v["clauses"]:
            f2, ts = _span_clause_terms(cl)
            fields.add(f2)
            terms.extend(ts)
        if len(fields) != 1:
            raise DslError("span_or clauses must share one field")
        return next(iter(fields)), tuple(dict.fromkeys(terms))
    if k == "span_multi":
        # ES span_multi: a multi-term query in a span position — the
        # slot carries a TermPattern the engine expands against the
        # term dictionary pre-compile (the span_or union semantics,
        # Lucene SpanMultiTermQueryWrapper)
        if not isinstance(v, dict) or "match" not in v \
                or not isinstance(v["match"], dict) \
                or len(v["match"]) != 1:
            raise DslError("span_multi needs {'match': {prefix|"
                           "wildcard|regexp|fuzzy: {field: ...}}}")
        (mk, mv), = v["match"].items()
        if mk not in ("prefix", "wildcard", "regexp", "fuzzy"):
            raise DslError("span_multi supports prefix/wildcard/"
                           f"regexp/fuzzy matches, got {mk!r}")
        # per-kind allowlist — unknown keys typed-reject, never
        # silently dropped (r11)
        fld, p = _leaf(f"span_multi {mk}", mv, "value",
                       _SPAN_MULTI_FUZZY if mk == "fuzzy"
                       else {"value": SCALAR(_REQ)})
        val, fuzziness = p["value"], p.get("fuzziness")
        transpositions = p.get("transpositions", False)
        prefix_length = p.get("prefix_length", 0)
        edits = 2
        if mk == "fuzzy":
            from cassandra_es_index_spark.search.ast import fuzzy_edits
            edits = fuzzy_edits(
                _fuzzy_node(fld, _scalar(val),
                            (3, 6) if fuzziness is None else fuzziness))
        return fld, (TermPattern(mk, _scalar(val), edits,
                                 transpositions=transpositions,
                                 prefix_length=prefix_length),)
    raise DslError(
        f"span clause {k!r} is not supported here (the engine "
        "composes span_term, span_or, and span_multi)")


def _bind_default_field(node: Node, fld: str) -> Node:
    """Rewrite a parsed query_string tree so default-field leaves
    (``field=None``) address ``fld`` — the DSL ``default_field`` /
    per-entry ``fields`` binding (r11). Compound nodes recurse; leaves
    with an explicit field are untouched."""
    import dataclasses

    if isinstance(node, (And, Or, Should, DisMax)):
        return dataclasses.replace(
            node, children=tuple(_bind_default_field(c, fld)
                                 for c in node.children))
    if hasattr(node, "child") and getattr(node, "child", None) \
            is not None:
        return dataclasses.replace(
            node, child=_bind_default_field(node.child, fld))
    if getattr(node, "field", "") is None:
        return dataclasses.replace(node, field=fld)
    return node


def _boosted(node: Node, boost: float | None) -> Node:
    """``node`` scaled by an already checked boost (None or 1.0: as is)."""
    return node if boost is None or boost == 1.0 else Boost(node, boost)


_JOIN_INNER_HITS = dict(size=INT1(3), _source=_tag(
    "a field name or a non-empty list of field names (engine subset: "
    "include list only)", lambda v: isinstance(v, str) or isinstance(
        v, list) and v and all(isinstance(f, str) for f in v)))


def _join_inner_size(kind: str, ih: Any
                     ) -> "tuple[int, tuple[str, ...] | None] | None":
    """Validate a has_child/has_parent ``inner_hits`` object (r13) —
    engine subset: ``size`` and an include-list ``_source``
    (name/sort/highlight on join inner hits typed-reject). ES default
    size is 3. Returns (size, source_includes | None)."""
    if ih is None:
        return None
    p = _params(f"{kind} inner_hits", ih, _JOIN_INNER_HITS,
                note="engine subset: size and _source only")
    src = p["_source"]
    return p["size"], None if src is None else tuple(
        [src] if isinstance(src, str) else src)


def _fuzziness_edits(fuzziness: Any) -> int | tuple[int, int] | None:
    """ES ``fuzziness`` → edit budget: int 0/1/2; ``"AUTO"`` /
    ``"AUTO:low,high"`` → an (auto_low, auto_high) tuple, resolved
    against each query term's LENGTH the way ES does (0 edits below
    ``low`` chars, 1 below ``high``, else 2). None = not requested."""
    if fuzziness is None:
        return None
    if isinstance(fuzziness, str):
        up = fuzziness.upper()
        if up == "AUTO":
            return (3, 6)
        if up.startswith("AUTO:"):
            m = _re.fullmatch(r"AUTO:(\d+),(\d+)", up)
            if m is None:
                raise DslError(f"bad fuzziness {fuzziness!r} "
                               "(expected AUTO:low,high)")
            return (int(m.group(1)), int(m.group(2)))
        if fuzziness.isdigit():
            return int(fuzziness)
        raise DslError(f"bad fuzziness {fuzziness!r}")
    if isinstance(fuzziness, int) and 0 <= fuzziness <= 2:
        return fuzziness
    raise DslError(f"bad fuzziness {fuzziness!r}")


def _fuzzy_node(field: str, term: str,
                edits: int | tuple[int, int], *,
                transpositions: bool = False,
                prefix_length: int = 0) -> Fuzzy:
    if isinstance(edits, tuple):
        return Fuzzy(field, term, None,
                     auto_low=edits[0], auto_high=edits[1],
                     transpositions=transpositions,
                     prefix_length=prefix_length)
    return Fuzzy(field, term, edits, transpositions=transpositions,
                 prefix_length=prefix_length)


def _single(body: Any) -> tuple[str, Any]:
    if not isinstance(body, dict) or len(body) != 1:
        raise DslError(f"clause body must have exactly one field: {body!r}")
    (field, value), = body.items()
    return field, value


def _scalar(value: Any) -> str:
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def _as_list(value: Any) -> list[dict[str, Any]]:
    if value is None:
        return []
    if isinstance(value, list):
        return value
    return [value]
