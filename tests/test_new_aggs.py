"""ES ``boxplot``, ``matrix_stats``, ``median_absolute_deviation``,
``string_stats``, and ``auto_date_histogram`` aggregations (round-9).
The reference delegates all aggs to ES (ref ElasticIndex.java:663-667);
these complete the analytics-metric tier.

Engine contracts under test:
- boxplot: min/max + EXACT quartiles (superset of ES's TDigest
  estimate); `compression` opts into percentile_approx; composes under
  bucket levels like any metric.
- matrix_stats: LISTWISE deletion (docs missing any field drop from
  every statistic); sample variance/covariance + Pearson correlation;
  skewness/kurtosis omitted (documented deviation).
- median_absolute_deviation / string_stats: top-metrics-level only
  (documented subset) — two-pass plans (median-then-deviation / char
  distribution entropy), typed DslError inside bucket aggs.
- auto_date_histogram: target bucket COUNT resolved to the smallest
  fixed ladder interval fitting the match set's span (fixed-second
  ladder, documented deviation: month=30d, year=365d); metric sub-aggs
  ride along; sub-buckets and nested placement rejected typed.
"""

import json
import math

import pytest
from pyspark.sql import functions as F

from cassandra_es_index_spark.search.engine import SearchEngine, TableSpec
from cassandra_es_index_spark.search.es_dsl import DslError


@pytest.fixture(scope="module")
def agg_engine(spark):
    eng = SearchEngine(spark)
    df = (spark.createDataFrame(
        [(1, 10.0, 100.0, "aab", "2024-01-01 00:00:00", "g1"),
         (2, 20.0, 210.0, "ab", "2024-01-01 06:00:00", "g1"),
         (3, 30.0, 290.0, "b", "2024-01-02 00:00:00", "g2"),
         (4, 40.0, 400.0, None, "2024-01-05 00:00:00", "g2"),
         (5, None, 500.0, "cc", None, "g2"),
         (6, 60.0, None, "dd", "2024-01-09 12:00:00", "g1")],
        "id bigint, x double, y double, s string, ts string, g string")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    eng.register(df, TableSpec("aggdocs", ["id"]))
    return eng


def _aggs(eng, body, query=None):
    q = json.dumps({"query": query or {"match_all": {}}, "aggs": body})
    return [r.asDict() for r in eng.search_aggs("aggdocs", q).collect()]


# ------------------------------------------------------------- boxplot

def test_boxplot_global_exact_quartiles(agg_engine):
    (row,) = _aggs(agg_engine, {"b": {"boxplot": {"field": "x"}}})
    # x = 10 20 30 40 60 (null skipped): exact continuous quartiles
    assert row == {"b_min": 10.0, "b_max": 60.0,
                   "b_q1": 20.0, "b_q2": 30.0, "b_q3": 40.0}


def test_boxplot_under_terms(agg_engine):
    rows = _aggs(agg_engine,
                 {"t": {"terms": {"field": "g"},
                        "aggs": {"b": {"boxplot": {"field": "x"}}}}})
    by_key = {r["key"]: r for r in rows}
    # g1: x = 10, 20, 60
    assert by_key["g1"]["b_q2"] == pytest.approx(20.0)
    assert by_key["g1"]["b_q1"] == pytest.approx(15.0)
    assert by_key["g2"]["b_min"] == 30.0


def test_boxplot_compression_sketch_runs(agg_engine):
    (row,) = _aggs(agg_engine,
                   {"b": {"boxplot": {"field": "x", "compression": 100}}})
    assert row["b_min"] == 10.0 and row["b_max"] == 60.0
    assert row["b_q2"] in (20.0, 30.0)  # sketch may pick either side


# -------------------------------------------------------- matrix_stats

def test_matrix_stats_listwise_deletion(agg_engine):
    (row,) = _aggs(agg_engine,
                   {"mx": {"matrix_stats": {"fields": ["x", "y"]}}})
    # rows 5 (null x) and 6 (null y) drop EVERYWHERE: obs = rows 1-4
    assert row["mx_x_count"] == 4 and row["mx_y_count"] == 4
    assert row["mx_x_mean"] == pytest.approx(25.0)
    assert row["mx_y_mean"] == pytest.approx(250.0)
    # sample stats over x=10,20,30,40 / y=100,210,290,400
    assert row["mx_x_variance"] == pytest.approx(500.0 / 3.0)
    xs, ys = [10.0, 20.0, 30.0, 40.0], [100.0, 210.0, 290.0, 400.0]
    cov = sum((a - 25.0) * (b - 250.0) for a, b in zip(xs, ys)) / 3.0
    assert row["mx_x_y_covariance"] == pytest.approx(cov)
    var_y = sum((b - 250.0) ** 2 for b in ys) / 3.0
    assert row["mx_x_y_correlation"] == pytest.approx(
        cov / math.sqrt(500.0 / 3.0 * var_y))


def test_matrix_stats_three_fields_pairs(agg_engine):
    (row,) = _aggs(agg_engine,
                   {"m": {"matrix_stats": {"fields": ["x", "y", "id"]}}})
    for pair in ("x_y", "x_id", "y_id"):
        assert f"m_{pair}_covariance" in row
        assert f"m_{pair}_correlation" in row


def test_matrix_stats_errors(agg_engine):
    with pytest.raises(DslError, match="at least two"):
        _aggs(agg_engine, {"m": {"matrix_stats": {"fields": ["x"]}}})
    with pytest.raises(DslError, match="duplicate"):
        _aggs(agg_engine,
              {"m": {"matrix_stats": {"fields": ["x", "x"]}}})


# ------------------------------------- median_absolute_deviation (MAD)

def test_mad_global(agg_engine):
    (row,) = _aggs(agg_engine,
                   {"mad": {"median_absolute_deviation":
                            {"field": "x"}}})
    # median(10,20,30,40,60)=30; |x-30| = 20,10,0,10,30 → median 10
    assert row == {"mad": 10.0}


def test_mad_beside_simple_metrics_keeps_order(agg_engine):
    (row,) = _aggs(agg_engine,
                   {"a": {"avg": {"field": "x"}},
                    "mad": {"median_absolute_deviation": {"field": "x"}},
                    "mx": {"max": {"field": "x"}}})
    assert list(row) == ["a", "mad", "mx"]
    assert row["a"] == pytest.approx(32.0)
    assert row["mad"] == 10.0 and row["mx"] == 60.0


def test_mad_inside_bucket_rejected(agg_engine):
    with pytest.raises(DslError, match="top metrics level"):
        _aggs(agg_engine,
              {"t": {"terms": {"field": "g"},
                     "aggs": {"mad": {"median_absolute_deviation":
                                      {"field": "x"}}}}})


# -------------------------------------------------------- string_stats

def test_string_stats_global(agg_engine):
    (row,) = _aggs(agg_engine,
                   {"ss": {"string_stats": {"field": "s"}}})
    assert row["ss_count"] == 5
    assert row["ss_min_length"] == 1 and row["ss_max_length"] == 3
    assert row["ss_avg_length"] == pytest.approx(2.0)
    # chars of aab ab b cc dd: a×3 b×3 c×2 d×2 (n=10)
    want = -(2 * (0.3 * math.log2(0.3)) + 2 * (0.2 * math.log2(0.2)))
    assert row["ss_entropy"] == pytest.approx(want)


def test_string_stats_non_string_rejected(agg_engine):
    with pytest.raises(DslError, match="must be a string"):
        _aggs(agg_engine, {"ss": {"string_stats": {"field": "x"}}})


def test_string_stats_inside_bucket_rejected(agg_engine):
    with pytest.raises(DslError, match="top metrics level"):
        _aggs(agg_engine,
              {"t": {"terms": {"field": "g"},
                     "aggs": {"ss": {"string_stats": {"field": "s"}}}}})


# ------------------------------------------------- auto_date_histogram

def test_auto_date_histogram_picks_daily(agg_engine):
    rows = _aggs(agg_engine,
                 {"h": {"auto_date_histogram":
                        {"field": "ts", "buckets": 10},
                        "aggs": {"ax": {"avg": {"field": "x"}}}}})
    # span Jan 1 → Jan 9.5: 1d buckets give 9 ≤ 10 → daily
    keys = [r["key"].strftime("%m-%d") for r in rows]
    assert keys == ["01-01", "01-02", "01-05", "01-09"]
    assert rows[0]["doc_count"] == 2
    assert rows[0]["ax"] == pytest.approx(15.0)


def test_auto_date_histogram_coarsens_for_small_target(agg_engine):
    rows = _aggs(agg_engine,
                 {"h": {"auto_date_histogram":
                        {"field": "ts", "buckets": 2}}})
    # 1d gives 9 epoch-aligned buckets > 2; 7d gives 2 ≤ 2 → weekly
    assert len(rows) == 2
    assert sum(r["doc_count"] for r in rows) == 5   # null ts drops out


def test_auto_date_histogram_narrow_query_refines(agg_engine):
    rows = _aggs(agg_engine,
                 {"h": {"auto_date_histogram":
                        {"field": "ts", "buckets": 10}}},
                 query={"range": {"ts": {"lte": "2024-01-01 12:00:00"}}})
    # the match set spans 6h → ladder drops to 3h buckets (3 ≤ 10 at
    # 3h; 1h would give 7 ≤ 10, so 1h wins — smallest that fits)
    assert [r["doc_count"] for r in rows] == [1, 1]


def test_auto_date_histogram_errors(agg_engine):
    with pytest.raises(DslError, match="buckets must be"):
        _aggs(agg_engine, {"h": {"auto_date_histogram":
                                 {"field": "ts", "buckets": 0}}})
    with pytest.raises(DslError, match="must be a date"):
        _aggs(agg_engine, {"h": {"auto_date_histogram":
                                 {"field": "x"}}})
    with pytest.raises(DslError, match="metric sub-aggs only"):
        _aggs(agg_engine,
              {"h": {"auto_date_histogram": {"field": "ts"},
                     "aggs": {"t": {"terms": {"field": "g"}}}}})
    with pytest.raises(DslError, match="top bucket level"):
        _aggs(agg_engine,
              {"t": {"terms": {"field": "g"},
                     "aggs": {"h": {"auto_date_histogram":
                                    {"field": "ts"}}}}})


# ---------------------------------------- significant_text (r11)

def test_significant_text_token_jlh(spark):
    # fg = docs with tag 'x': tokens distinct per doc; hand-computed
    # JLH for 'spark': fg 2/2=1.0, bg 3/5=0.6 → (1-0.6)*(1/0.6)=0.6667
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, "x", "spark fast spark"),      # distinct: spark, fast
         (2, "x", "spark slow"),
         (3, "y", "spark other"),
         (4, "y", "plain words"),
         (5, "y", "more words")],
        "id int, tag string, text string")
    eng.register(df, TableSpec("sigtxt", ["id"]))
    q = json.dumps({"query": {"term": {"tag": "x"}}, "aggs": {
        "sig": {"significant_text": {"field": "text", "size": 5}}}})
    rows = {r["key"]: (r["doc_count"], r["bg_count"], r["score"])
            for r in eng.search_aggs("sigtxt", q,
                                     default_field="text").collect()}
    assert rows["spark"] == (2, 3, round((1.0 - 0.6) * (1.0 / 0.6), 6))
    # fast/slow: fg 1/2=0.5, bg 1/5=0.2 → 0.3*2.5 = 0.75 — outrank spark
    assert rows["fast"] == (1, 1, 0.75) and rows["slow"] == (1, 1, 0.75)
    # 'words' never appears in fg → absent; bg-only tokens never emit
    assert "words" not in rows and "plain" not in rows
    # ordering: score desc, key asc → fast, slow, spark
    keys = [r["key"] for r in eng.search_aggs(
        "sigtxt", q, default_field="text").collect()]
    assert keys[:3] == ["fast", "slow", "spark"]

    with pytest.raises(DslError, match="plain string"):
        eng.search_aggs("sigtxt", json.dumps(
            {"query": {"match_all": {}}, "aggs": {
                "s": {"significant_text": {"field": "id"}}}}),
            default_field="text")
    with pytest.raises(DslError, match="top-level only"):
        eng.search_aggs("sigtxt", json.dumps(
            {"query": {"match_all": {}}, "aggs": {
                "t": {"terms": {"field": "tag"}, "aggs": {
                    "s": {"significant_text": {"field": "text"}}}}}}),
            default_field="text")


# ------------------------------------------- categorize_text (r11)

def test_categorize_text_templates(spark):
    """Deterministic subset of ES categorize_text: exact token
    templates — lowercase whitespace tokens, digit-bearing tokens
    masked to <num>; terms-style selection; null text drops."""
    eng = SearchEngine(spark)
    rows = [(1, "Error code 42 at node7"),
            (2, "error code 99 at node3"),
            (3, "error code 7 at node3"),
            (4, "login ok"), (5, "login ok"), (6, None),
            (7, "disk 0x1f full")]
    eng.register(spark.createDataFrame(rows, "id int, msg string"),
                 TableSpec("logs_ct", ["id"]))

    def run(q):
        return [(r["key"], r["doc_count"])
                for r in eng.search_aggs("logs_ct", q).collect()]

    q = ('{"query":{"match_all":{}},"aggs":{"cats":{"categorize_text":'
         '{"field":"msg","size":5}}}}')
    assert run(q) == [("error code <num> at <num>", 3),
                      ("login ok", 2),
                      ("disk <num> full", 1)]   # 0x1f carries a digit
    # size caps after doc_count-desc/key-asc selection
    assert run(q.replace('"size":5', '"size":1')) \
        == [("error code <num> at <num>", 3)]
    # metric sub-aggs ride the same aggregation
    q2 = ('{"query":{"match_all":{}},"aggs":{"cats":{"categorize_text":'
          '{"field":"msg","size":5},"aggs":{"max_id":{"max":'
          '{"field":"id"}}}}}}')
    got = {r["key"]: r["max_id"]
           for r in eng.search_aggs("logs_ct", q2).collect()}
    assert got["error code <num> at <num>"] == 3
    assert got["login ok"] == 5
    # adaptive drain-tree knobs typed-reject; so does a bad size
    with pytest.raises(DslError, match="not reproducible"):
        eng.search_aggs("logs_ct", json.dumps(
            {"aggs": {"c": {"categorize_text": {
                "field": "msg", "similarity_threshold": 70}}}}))
    with pytest.raises(DslError, match="positive integer"):
        eng.search_aggs("logs_ct", json.dumps(
            {"aggs": {"c": {"categorize_text": {
                "field": "msg", "size": 0}}}}))


# ---------------------------------------------------- rate metric (r11)

def test_rate_metric_hand_case(spark):
    """ES rate: bucket doc_count (or field sum) rescaled to a time
    unit of the parent date_histogram's fixed span — 6 docs in one
    day at unit=hour → 6/24; sum 21 → 21/24."""
    import datetime as dt
    eng = SearchEngine(spark)
    rows = [(i, dt.datetime(2024, 1, 1, 0, i % 3, 0), float(i))
            for i in range(1, 7)]
    eng.register(spark.createDataFrame(
        rows, "id int, ts timestamp, v double"),
        TableSpec("rate_t", ["id"]))
    q = ('{"aggs":{"per_day":{"date_histogram":{"field":"ts",'
         '"calendar_interval":"day"},"aggs":{"r":{"rate":'
         '{"unit":"hour"}},"rv":{"rate":{"unit":"hour",'
         '"field":"v"}}}}}}')
    row, = eng.search_aggs("rate_t", q).collect()
    assert (row["doc_count"], row["r"], row["rv"]) == (6, 0.25, 0.875)
    # fixed_interval parents work too; unit may exceed the span
    q2 = ('{"aggs":{"per_hour":{"date_histogram":{"field":"ts",'
          '"fixed_interval":"30m"},"aggs":{"r":{"rate":'
          '{"unit":"hour"}}}}}}')
    got = {str(r["key"]): r["r"]
           for r in eng.search_aggs("rate_t", q2).collect()}
    # minutes 0-2 land in the first 30m bucket: 6 docs × (3600/1800)
    assert got == {"2024-01-01 00:00:00": 12.0}
    # typed: wrong parent, bad unit/params
    for q_bad, msg in [
        ('{"aggs":{"t":{"terms":{"field":"id"},"aggs":{"r":{"rate":'
         '{"unit":"hour"}}}}}}', "date_histogram bucket only"),
        ('{"aggs":{"d":{"date_histogram":{"field":"ts",'
         '"calendar_interval":"day"},"aggs":{"r":{"rate":'
         '{"unit":"fortnight"}}}}}}', "second/minute/hour"),
        # mode value_count graduated to implemented (r12) — the
        # fieldless form is the remaining typed contract
        ('{"aggs":{"d":{"date_histogram":{"field":"ts",'
         '"calendar_interval":"day"},"aggs":{"r":{"rate":'
         '{"unit":"hour","mode":"value_count"}}}}}}',
         "needs a 'field'"),
    ]:
        with pytest.raises(DslError, match=msg):
            eng.search_aggs("rate_t", q_bad)


def test_rate_calendar_parents_hand_case(spark):
    """r12: month/quarter/year date_histogram parents — the span is a
    per-bucket column (next calendar boundary − bucket start), so a
    Jan-2024 bucket (31 d) and a leap-Feb-2024 bucket (29 d) rescale
    differently. Hand values: unit=day rate = doc_count / days."""
    import datetime as dt
    eng = SearchEngine(spark)
    rows = ([(i, dt.datetime(2024, 1, 1 + i, 12, 0, 0), 2.0)
             for i in range(4)]           # 4 docs in Jan 2024
            + [(10 + i, dt.datetime(2024, 2, 1 + i, 12, 0, 0), 3.0)
               for i in range(2)])        # 2 docs in Feb 2024
    eng.register(spark.createDataFrame(
        rows, "id int, ts timestamp, v double"),
        TableSpec("rate_cal_t", ["id"]))
    q = ('{"aggs":{"per_month":{"date_histogram":{"field":"ts",'
         '"calendar_interval":"month"},"aggs":{"r":{"rate":'
         '{"unit":"day"}},"rv":{"rate":{"unit":"day",'
         '"field":"v"}}}}}}')
    got = {str(r["key"]): (r["doc_count"], r["r"], r["rv"])
           for r in eng.search_aggs("rate_cal_t", q).collect()}
    assert got == {
        "2024-01-01 00:00:00": (4, pytest.approx(4 / 31),
                                pytest.approx(8.0 / 31)),
        "2024-02-01 00:00:00": (2, pytest.approx(2 / 29),
                                pytest.approx(6.0 / 29)),
    }
    # quarter: Q1 2024 = 91 days (31+29+31); year 2024 = 366 days
    qq = ('{"aggs":{"per_q":{"date_histogram":{"field":"ts",'
          '"calendar_interval":"quarter"},"aggs":{"r":{"rate":'
          '{"unit":"day"}}}}}}')
    row, = eng.search_aggs("rate_cal_t", qq).collect()
    assert (row["doc_count"], row["r"]) == (6, pytest.approx(6 / 91))
    qy = ('{"aggs":{"per_y":{"date_histogram":{"field":"ts",'
          '"calendar_interval":"year"},"aggs":{"r":{"rate":'
          '{"unit":"week"}}}}}}')
    row, = eng.search_aggs("rate_cal_t", qy).collect()
    assert (row["doc_count"], row["r"]) == (6, pytest.approx(
        6 * 604800 / (366 * 86400)))


def test_generic_bucket_param_allowlists(spark):
    """r11: the generic bucket parse typed-rejects unknown params —
    previously shard_size/time_zone/hard_bounds were SILENTLY DROPPED
    (the r9 leaf-params lesson applied to aggs); `keyed` stays an
    accepted no-op (the flattened frame is always keyed). filters
    `other_bucket` GRADUATED from this reject list to implemented in
    r12 (see test_filters_other_bucket); date_histogram `time_zone`
    GRADUATED in r14 (see the time_zone tests below)."""
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame([(1, "a", 5.0)],
                                       "id int, g string, v double"),
                 TableSpec("bp", ["id"]))
    for q, msg in [
        ('{"aggs":{"t":{"terms":{"field":"g","shard_size":50}}}}',
         "shard_size"),
        ('{"aggs":{"h":{"histogram":{"field":"v","interval":5,'
         '"hard_bounds":{"min":0}}}}}', "hard_bounds"),
        ('{"aggs":{"h2":{"histogram":{"field":"v","interval":5,'
         '"order":{"_count":"desc"}}}}}', "order"),
    ]:
        with pytest.raises(DslError, match=msg):
            eng.search_aggs("bp", q)
    # keyed: accepted no-op on range/date_range/filters
    rows = eng.search_aggs("bp", json.dumps({"aggs": {"r": {"range": {
        "field": "v", "ranges": [{"to": 10}], "keyed": True}}}})).collect()
    assert [r["doc_count"] for r in rows] == [1]


# ------------------------------------------------- t_test metric (r12)

def test_t_test_hand_cases(spark):
    """Welch / pooled / paired t against hand-computed values.
    DEVIATION pin: the engine emits <name>_t + <name>_df (ES emits the
    p-value; functions.stats.t_p_value converts client-side)."""
    import math
    eng = SearchEngine(spark)
    # group g=1: [1,2,3,4]  (mean 2.5, s² 5/3, n 4)
    # group g=2: [2,4,6]    (mean 4,   s² 4,   n 3)
    rows = ([(i, 1, float(v), float(v) + 1.0)
             for i, v in enumerate([1, 2, 3, 4])]
            + [(10 + i, 2, float(v), 0.0)
               for i, v in enumerate([2, 4, 6])])
    eng.register(spark.createDataFrame(
        rows, "id int, g int, x double, y double"),
        TableSpec("tt_t", ["id"]))
    q = ('{"aggs":{"tt":{"t_test":{'
         '"a":{"field":"x","filter":{"term":{"g":1}}},'
         '"b":{"field":"x","filter":{"term":{"g":2}}}}}}}')
    row, = eng.search_aggs("tt_t", q).collect()
    se2 = (5 / 3) / 4 + 4 / 3
    t_w = (2.5 - 4.0) / math.sqrt(se2)
    df_w = se2 ** 2 / (((5 / 3) / 4) ** 2 / 3 + (4 / 3) ** 2 / 2)
    assert row["tt_t"] == pytest.approx(t_w)
    assert row["tt_df"] == pytest.approx(df_w)
    # homoscedastic: pooled s² = (3·5/3 + 2·4)/5 = 13/5
    qh = ('{"aggs":{"tt":{"t_test":{'
          '"a":{"field":"x","filter":{"term":{"g":1}}},'
          '"b":{"field":"x","filter":{"term":{"g":2}}},'
          '"type":"homoscedastic"}}}}')
    row, = eng.search_aggs("tt_t", qh).collect()
    sp2 = (3 * (5 / 3) + 2 * 4.0) / 5.0
    t_h = (2.5 - 4.0) / math.sqrt(sp2 * (1 / 4 + 1 / 3))
    assert row["tt_t"] == pytest.approx(t_h)
    assert row["tt_df"] == 5.0
    # paired on x vs y over group 1: d = x−y = −1 everywhere → s_d = 0
    # → t null (degenerate); use a varied pair instead
    eng.register(spark.createDataFrame(
        [(1, 2.0, 1.0), (2, 4.0, 1.0), (3, 6.0, 5.0)],
        "id int, x double, y double"),
        TableSpec("tt_p", ["id"]))
    qp = ('{"aggs":{"tt":{"t_test":{"a":{"field":"x"},'
          '"b":{"field":"y"},"type":"paired"}}}}')
    row, = eng.search_aggs("tt_p", qp).collect()
    # d = [1, 3, 1]: mean 5/3, s_d² = 4/3, n 3 → t = (5/3)/sqrt(4/9)
    assert row["tt_t"] == pytest.approx((5 / 3) / math.sqrt(4 / 9))
    assert row["tt_df"] == 2.0


def test_t_test_p_value_against_published_table(spark):
    """functions.stats two-sided p-values vs published t-table rows
    (t=2.0, df=10 → 0.07339; t=1.0, df=1 → 0.5; t=12.706, df=1 →
    0.05)."""
    from cassandra_es_index_spark.functions.stats import (
        t_sf_two_sided, with_p_value,
    )
    assert t_sf_two_sided(2.0, 10.0) == pytest.approx(0.07339, abs=1e-5)
    assert t_sf_two_sided(1.0, 1.0) == pytest.approx(0.5, abs=1e-9)
    assert t_sf_two_sided(12.7062, 1.0) == pytest.approx(0.05, abs=1e-5)
    assert t_sf_two_sided(0.0, 7.0) == pytest.approx(1.0)
    # the vectorized UDF rides a result frame
    df = spark.createDataFrame([(2.0, 10.0), (0.0, 7.0)],
                               "tt_t double, tt_df double")
    got = [r["p_value"] for r in
           with_p_value(df, "tt_t", "tt_df").collect()]
    assert got[0] == pytest.approx(0.07339, abs=1e-5)
    assert got[1] == pytest.approx(1.0)


def test_t_test_typed_errors(spark):
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame(
        [(1, 1.0, 2.0)], "id int, x double, y double"),
        TableSpec("tt_err", ["id"]))
    for q, msg in [
        ('{"aggs":{"t":{"t_test":{"a":{"field":"x"}}}}}', "needs"),
        ('{"aggs":{"t":{"t_test":{"a":{"field":"x"},'
         '"b":{"field":"y"},"type":"welch"}}}}', "paired/"),
        ('{"aggs":{"t":{"t_test":{"a":{"field":"x","filter":'
         '{"term":{"id":1}}},"b":{"field":"y"},'
         '"type":"paired"}}}}', "cannot take filters"),
        ('{"aggs":{"t":{"t_test":{"a":{"field":"x"},'
         '"b":{"field":"x"}}}}}', "identical populations"),
        ('{"aggs":{"t":{"t_test":{"a":{"field":"x","zzz":1},'
         '"b":{"field":"y"}}}}}', "unsupported params"),
    ]:
        with pytest.raises(DslError, match=msg):
            eng.search_aggs("tt_err", q)


# ---------------------------------------- variable_width_histogram (r12)

def test_variable_width_histogram_gap_split(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in
         enumerate([1, 2, 3, 10, 11, 50, 50, 51, 100])],
        "id bigint, val double")
    eng.register(df, TableSpec("vw", ["id"]))
    q = json.dumps({"query": {"match_all": {}}, "aggs": {
        "vw": {"variable_width_histogram": {"field": "val",
                                            "buckets": 4}}}})
    rows = [r.asDict() for r in eng.search_aggs("vw", q).collect()]
    # sorted distinct: 1 2 3 10 11 50 51 100 — the 3 largest gaps are
    # 100−51=49, 50−11=39, 10−3=7 → clusters {1,2,3} {10,11}
    # {50,50,51} {100}; key = the cluster's value average
    assert [(r["min"], r["max"], r["doc_count"]) for r in rows] == \
        [(1.0, 3.0, 3), (10.0, 11.0, 2), (50.0, 51.0, 3),
         (100.0, 100.0, 1)]
    assert rows[0]["key"] == pytest.approx(2.0)
    assert rows[2]["key"] == pytest.approx(151.0 / 3)


def test_variable_width_histogram_fewer_values_than_buckets(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame([(1, 5.0), (2, 9.0)], "id bigint, v double")
    eng.register(df, TableSpec("vw2", ["id"]))
    q = json.dumps({"aggs": {"vw": {"variable_width_histogram":
                                    {"field": "v", "buckets": 10}}}})
    rows = eng.search_aggs("vw2", q).collect()
    # every distinct value becomes its own cluster — never an error
    assert [(r["key"], r["doc_count"]) for r in rows] == \
        [(5.0, 1), (9.0, 1)]


def test_variable_width_histogram_metric_sub_and_ties(spark):
    eng = SearchEngine(spark)
    # equal gaps (ties): 1..4 with buckets=3 → gaps all 1; ties break
    # toward the SMALLEST boundary values → boundaries {2, 3}
    df = spark.createDataFrame(
        [(1, 1.0, 10.0), (2, 2.0, 20.0), (3, 3.0, 30.0),
         (4, 4.0, 40.0)],
        "id bigint, v double, w double")
    eng.register(df, TableSpec("vw3", ["id"]))
    q = json.dumps({"aggs": {"vw": {
        "variable_width_histogram": {"field": "v", "buckets": 3},
        "aggs": {"sw": {"sum": {"field": "w"}}}}}})
    rows = [r.asDict() for r in eng.search_aggs("vw3", q).collect()]
    assert [(r["min"], r["max"], r["sw"]) for r in rows] == \
        [(1.0, 1.0, 10.0), (2.0, 2.0, 20.0), (3.0, 4.0, 70.0)]


def test_variable_width_histogram_typed_errors(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame([(1, 1.0, "x")], "id bigint, v double, s string")
    eng.register(df, TableSpec("vw4", ["id"]))

    def run(body):
        eng.search_aggs("vw4", json.dumps({"aggs": body}))

    with pytest.raises(DslError, match="numeric field"):
        run({"a": {"variable_width_histogram": {"field": "s"}}})
    with pytest.raises(DslError, match="buckets must be"):
        run({"a": {"variable_width_histogram": {"field": "v",
                                                "buckets": 0}}})
    with pytest.raises(DslError, match="buckets must be"):
        run({"a": {"variable_width_histogram": {"field": "v",
                                                "buckets": 257}}})
    with pytest.raises(DslError, match="unsupported params"):
        run({"a": {"variable_width_histogram": {"field": "v",
                                                "shard_size": 100}}})
    with pytest.raises(DslError, match="metric sub-aggs only"):
        run({"a": {"variable_width_histogram": {"field": "v"},
                   "aggs": {"t": {"terms": {"field": "s"}}}}})
    with pytest.raises(DslError, match="needs a 'field'"):
        run({"a": {"variable_width_histogram": {"buckets": 3}}})


# ----------------------------------------------- random_sampler (r12)

def test_random_sampler_deterministic_and_subaggs(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(400)], "id bigint, v double")
    eng.register(df, TableSpec("rs", ["id"]))
    q = json.dumps({"aggs": {"s": {
        "random_sampler": {"probability": 0.3, "seed": 7},
        "aggs": {"n": {"value_count": {"field": "id"}},
                 "mx": {"max": {"field": "v"}}}}}})
    (row,) = eng.search_aggs("rs", q).collect()
    # hand-replayed multiplicative hash: ((id+7)*2654435761) mod 2^32
    thresh = int(0.3 * 4294967296)
    exp = [i for i in range(400)
           if ((i + 7) * 2654435761) % 4294967296 < thresh]
    assert row["n"] == len(exp)
    assert row["mx"] == float(max(exp))
    # same seed → same sample on a second run
    (row2,) = eng.search_aggs("rs", q).collect()
    assert row2["n"] == row["n"]
    # different seed → (almost surely) different sample
    q2 = q.replace('"seed": 7', '"seed": 8')
    (row3,) = eng.search_aggs("rs", q2).collect()
    exp8 = [i for i in range(400)
            if ((i + 8) * 2654435761) % 4294967296 < thresh]
    assert row3["n"] == len(exp8)


def test_random_sampler_no_subaggs_counts(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame([(i,) for i in range(1000)], "id bigint")
    eng.register(df, TableSpec("rs2", ["id"]))
    q = json.dumps({"aggs": {"s": {"random_sampler":
                                   {"probability": 0.25}}}})
    (row,) = eng.search_aggs("rs2", q).collect()
    thresh = int(0.25 * 4294967296)
    exp = sum(1 for i in range(1000)
              if (i * 2654435761) % 4294967296 < thresh)
    assert row["doc_count"] == exp


def test_random_sampler_respects_query_scope(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "id bigint, t string")
    eng.register(df, TableSpec("rs3", ["id"]))
    q = json.dumps({"query": {"term": {"t": "a"}},
                    "aggs": {"s": {"random_sampler":
                                   {"probability": 0.5, "seed": 1}}}})
    (row,) = eng.search_aggs("rs3", q).collect()
    thresh = int(0.5 * 4294967296)
    exp = sum(1 for i in range(0, 200, 2)
              if ((i + 1) * 2654435761) % 4294967296 < thresh)
    assert row["doc_count"] == exp


def test_random_sampler_typed_errors(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame([(1, "x")], "id bigint, s string")
    eng.register(df, TableSpec("rs4", ["id"]))
    comp = spark.createDataFrame([("a", "b")], "k1 string, k2 string")
    eng.register(comp, TableSpec("rs5", ["k1", "k2"]))

    def run(table, body):
        eng.search_aggs(table, json.dumps({"aggs": body}))

    with pytest.raises(DslError, match="probability"):
        run("rs4", {"s": {"random_sampler": {"probability": 0.0}}})
    with pytest.raises(DslError, match="probability"):
        run("rs4", {"s": {"random_sampler": {"probability": 1.5}}})
    with pytest.raises(DslError, match="probability"):
        run("rs4", {"s": {"random_sampler": {}}})
    with pytest.raises(DslError, match="seed"):
        run("rs4", {"s": {"random_sampler": {"probability": 0.5,
                                             "seed": -1}}})
    with pytest.raises(DslError, match="unsupported params"):
        run("rs4", {"s": {"random_sampler": {"probability": 0.5,
                                             "shard_size": 10}}})
    with pytest.raises(DslError, match="integer primary key"):
        run("rs5", {"s": {"random_sampler": {"probability": 0.5}}})


# --------------------------------------------- bucket_correlation (r12)

def test_bucket_correlation_hand_cases(spark):
    eng = SearchEngine(spark)
    rows = [(i, float(b)) for i, b in
            enumerate([0] * 1 + [1] * 2 + [2] * 3 + [3] * 4)]
    eng.register(spark.createDataFrame(rows, "id bigint, x double"),
                 TableSpec("bc", ["id"]))

    def run(exp, path="h>_count", extra_metric=False):
        body = {"h": {"histogram": {"field": "x", "interval": 1}},
                "corr": {"bucket_correlation": {
                    "buckets_path": path,
                    "function": {"count_correlation": {
                        "indicator": {"expectations": exp}}}}}}
        if extra_metric:
            body["h"]["aggs"] = {"sx": {"sum": {"field": "x"}}}
        q = json.dumps({"aggs": body})
        return eng.search_aggs("bc", q).collect()

    # counts are 1,2,3,4 — perfectly (anti)correlated series
    assert run([1, 2, 3, 4])[0]["corr"] == pytest.approx(1.0)
    assert run([4, 3, 2, 1])[0]["corr"] == pytest.approx(-1.0)
    # hand-computed Pearson: corr([1,2,3,4],[1,1,2,0]) = -0.3162278
    assert run([1.0, 1.0, 2.0, 0.0])[0]["corr"] == \
        pytest.approx(-0.31622776, abs=1e-6)
    # against a leaf metric instead of _count: sums are 0,2,6,12
    got = run([0, 2, 6, 12], path="h>sx", extra_metric=True)
    assert got[0]["corr"] == pytest.approx(1.0)


def test_bucket_correlation_typed_errors(spark):
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame(
        [(1, 1.0, "a")], "id bigint, x double, t string"),
        TableSpec("bc2", ["id"]))

    def run(body):
        eng.search_aggs("bc2", json.dumps({"aggs": body}))

    ok_fn = {"count_correlation": {"indicator": {"expectations": [1, 2]}}}
    with pytest.raises(DslError, match="lengths must match"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "c": {"bucket_correlation": {"buckets_path": "h>_count",
                                          "function": ok_fn}}})
    with pytest.raises(DslError, match="key-ascending"):
        run({"t": {"terms": {"field": "t"}},
             "c": {"bucket_correlation": {"buckets_path": "t>_count",
                                          "function": ok_fn}}})
    with pytest.raises(DslError, match="doc_count scaling"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "c": {"bucket_correlation": {
                 "buckets_path": "h>_count",
                 "function": {"count_correlation": {"indicator": {
                     "expectations": [1], "doc_count": 10}}}}}})
    with pytest.raises(DslError, match="needs .'function'"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "c": {"bucket_correlation": {"buckets_path": "h>_count"}}})
    with pytest.raises(DslError, match="of ≥2 numbers"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "c": {"bucket_correlation": {
                 "buckets_path": "h>_count",
                 "function": {"count_correlation": {"indicator": {
                     "expectations": [1]}}}}}})
    with pytest.raises(DslError, match="unsupported params"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "c": {"bucket_correlation": {
                 "buckets_path": "h>_count", "function": ok_fn,
                 "gap_policy": "skip"}}})


# --------------------------------------------------------- geo_line (r12)

def _geo_line_engine(spark):
    eng = SearchEngine(spark)
    rows = [(1, "a", 3.0, 10.0, 100.0), (2, "a", 1.0, 11.0, 101.0),
            (3, "a", 2.0, 12.0, 102.0), (4, "b", 1.0, 20.0, 200.0),
            (5, "a", None, 99.0, 99.0),    # null sort → skipped
            (6, "b", 2.0, None, 201.0)]    # null lat  → skipped
    df = (spark.createDataFrame(
        rows, "id bigint, g string, ts double, lat double, lon double")
        .selectExpr("id", "g", "ts",
                    "named_struct('lat', lat, 'lon', lon) as loc"))
    eng.register(df, TableSpec("gl", ["id"]))
    return eng


def test_geo_line_bucketed_sorted_and_skips(spark):
    eng = _geo_line_engine(spark)
    q = json.dumps({"aggs": {"byg": {"terms": {"field": "g"}, "aggs": {
        "track": {"geo_line": {"point": {"field": "loc"},
                               "sort": {"field": "ts"}}}}}}})
    rows = {r["key"]: r for r in eng.search_aggs("gl", q).collect()}
    # bucket a: ts order 1→2→3 gives lon 101, 102, 100; the null-sort
    # doc 5 is skipped from the line but counted in the bucket
    assert json.loads(rows["a"]["track"]) == {
        "type": "LineString",
        "coordinates": [[101.0, 11.0], [102.0, 12.0], [100.0, 10.0]]}
    assert rows["a"]["doc_count"] == 4
    assert json.loads(rows["b"]["track"]) == {
        "type": "LineString", "coordinates": [[200.0, 20.0]]}


def test_geo_line_desc_and_size_cap(spark):
    eng = _geo_line_engine(spark)
    q = json.dumps({"aggs": {"track": {"geo_line": {
        "point": {"field": "loc"}, "sort": {"field": "ts"},
        "sort_order": "desc", "size": 2}}}})
    (row,) = eng.search_aggs("gl", q).collect()
    assert json.loads(row["track"])["coordinates"] == \
        [[100.0, 10.0], [102.0, 12.0]]


def test_geo_line_typed_errors(spark):
    eng = _geo_line_engine(spark)

    def run(body):
        eng.search_aggs("gl", json.dumps({"aggs": body}))

    with pytest.raises(DslError, match="needs"):
        run({"t": {"geo_line": {"point": {"field": "loc"}}}})
    with pytest.raises(DslError, match="include_sort"):
        run({"t": {"geo_line": {"point": {"field": "loc"},
                                "sort": {"field": "ts"},
                                "include_sort": True}}})
    with pytest.raises(DslError, match="sort_order"):
        run({"t": {"geo_line": {"point": {"field": "loc"},
                                "sort": {"field": "ts"},
                                "sort_order": "up"}}})
    with pytest.raises(DslError, match="size"):
        run({"t": {"geo_line": {"point": {"field": "loc"},
                                "sort": {"field": "ts"},
                                "size": 20000}}})
    with pytest.raises(DslError, match="unsupported params"):
        run({"t": {"geo_line": {"point": {"field": "loc"},
                                "sort": {"field": "ts"},
                                "shard_size": 5}}})


# ----------------------------------------------- scripted_metric (r12)

def test_scripted_metric_weighted_avg_translation(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, 10.0, 2.0, "a"), (2, 20.0, 4.0, "a"),
         (3, 30.0, 6.0, "b"), (4, None, 8.0, "b")],
        "id bigint, x double, w double, g string")
    eng.register(df, TableSpec("sm", ["id"]))
    sm = {"init_script": "state.tx = 0; state.tw = 0",
          "map_script": ("state.tx += doc['x'].value * doc['w'].value; "
                         "state.tw += doc['w'].value"),
          "combine_script": "return state.tx / state.tw",
          "reduce_script":
              "double s = 0; for (t in states) { s += t } return s"}
    q = json.dumps({"aggs": {"wavg": {"scripted_metric": sm}}})
    (row,) = eng.search_aggs("sm", q).collect()
    # (10·2 + 20·4 + 30·6) / (2+4+6+8) = 280/20; the null-x row's
    # product is null and contributes nothing (sum-skips-nulls,
    # documented) while its weight still counts
    assert row["wavg"] == pytest.approx(14.0)
    # composes under buckets: per-group sums
    q2 = json.dumps({"aggs": {"byg": {"terms": {"field": "g"}, "aggs": {
        "wavg": {"scripted_metric": sm}}}}})
    got = {r["key"]: r["wavg"] for r in eng.search_aggs("sm", q2).collect()}
    assert got["a"] == pytest.approx(100.0 / 6)
    assert got["b"] == pytest.approx(180.0 / 14)
    # `return states[0]` reduce + count-style map
    sm2 = dict(sm, map_script="state.tx += 1",
               combine_script="return state.tx",
               reduce_script="return states[0]")
    (row2,) = eng.search_aggs(
        "sm", json.dumps({"aggs": {"n": {"scripted_metric": sm2}}})
    ).collect()
    assert row2["n"] == pytest.approx(4.0)


def test_scripted_metric_typed_errors(spark):
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame([(1, 1.0)], "id bigint, x double"),
                 TableSpec("sm2", ["id"]))
    base = {"init_script": "state.t = 0",
            "map_script": "state.t += doc['x'].value",
            "combine_script": "return state.t",
            "reduce_script": "return states[0]"}

    def run(**kw):
        body = dict(base, **kw)
        eng.search_aggs("sm2", json.dumps(
            {"aggs": {"m": {"scripted_metric": body}}}))

    with pytest.raises(DslError, match="nonzero init"):
        run(init_script="state.t = 5")
    with pytest.raises(DslError, match="uninitialized"):
        run(map_script="state.u += doc['x'].value")
    with pytest.raises(DslError, match="arithmetic only"):
        run(map_script="state.t += doc['x'].value > 3")
    with pytest.raises(DslError, match="map never updates"):
        run(combine_script="return state.zzz")
    with pytest.raises(DslError, match="single-state identity"):
        run(reduce_script="double m = 0; for (t in states) "
                          "{ m = max(m, t) } return m")
    with pytest.raises(DslError, match="needs"):
        eng.search_aggs("sm2", json.dumps({"aggs": {"m": {
            "scripted_metric": {"init_script": "state.t = 0"}}}}))
    with pytest.raises(DslError, match="unsupported params"):
        run(params={"k": 1})
    with pytest.raises(DslError, match="'state.<var> \\+="):
        run(map_script="state.t = doc['x'].value")


# -------------------------------------------- frequent_item_sets (r12)

def test_frequent_item_sets_pairs(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame([
        (1, "milk bread butter"), (2, "milk bread"),
        (3, "milk bread beer"), (4, "beer chips"),
        (5, "milk butter"), (6, "bread milk milk")],
        "id bigint, basket string")
    eng.register(df, TableSpec("fis", ["id"]))
    q = json.dumps({"aggs": {"s": {"frequent_item_sets": {
        "fields": [{"field": "basket"}],
        "minimum_support": 0.5, "size": 5}}}})
    rows = [r.asDict() for r in eng.search_aggs("fis", q).collect()]
    # support floor ceil(0.5·6)=3: frequent items milk(5) bread(4);
    # butter(2)/beer(2)/chips(1) pruned before pairing; duplicate
    # tokens in doc 6 count once (distinct items per transaction)
    assert rows == [{"item1": "bread", "item2": "milk",
                     "doc_count": 4, "support": 0.666667}]
    # lower support admits the butter pairs
    q2 = json.dumps({"aggs": {"s": {"frequent_item_sets": {
        "fields": [{"field": "basket"}],
        "minimum_support": 0.3, "size": 10}}}})
    got = {(r["item1"], r["item2"]): r["doc_count"]
           for r in eng.search_aggs("fis", q2).collect()}
    # floor ceil(0.3·6)=2: (bread,milk) co-occurs in docs 1,2,3,6;
    # (butter,milk) in docs 1,5; every other pair co-occurs once
    assert got == {("bread", "milk"): 4, ("butter", "milk"): 2}


def test_frequent_item_sets_array_field_and_query_scope(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, ["a", "b"], "x"), (2, ["a", "b"], "x"),
         (3, ["a", "c"], "y")],
        "id bigint, items array<string>, t string")
    eng.register(df, TableSpec("fis2", ["id"]))
    q = json.dumps({"query": {"term": {"t": "x"}},
                    "aggs": {"s": {"frequent_item_sets": {
                        "fields": [{"field": "items"}],
                        "minimum_support": 0.9}}}})
    rows = [r.asDict() for r in eng.search_aggs("fis2", q).collect()]
    assert rows == [{"item1": "a", "item2": "b",
                     "doc_count": 2, "support": 1.0}]


def test_frequent_item_sets_typed_errors(spark):
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame([(1, "x", 2.0)],
                                       "id bigint, s string, v double"),
                 TableSpec("fis3", ["id"]))

    def run(body):
        eng.search_aggs("fis3", json.dumps({"aggs": {"s": body}}))

    with pytest.raises(DslError, match="minimum_set_size must be 2 or"):
        run({"frequent_item_sets": {"fields": [{"field": "s"}],
                                    "minimum_set_size": 4}})
    with pytest.raises(DslError, match="exactly one field"):
        run({"frequent_item_sets": {"fields": [{"field": "s"},
                                               {"field": "v"}]}})
    with pytest.raises(DslError, match="minimum_support"):
        run({"frequent_item_sets": {"fields": [{"field": "s"}],
                                    "minimum_support": 0}})
    with pytest.raises(DslError, match="string or"):
        run({"frequent_item_sets": {"fields": [{"field": "v"}]}})
    with pytest.raises(DslError, match="sub-aggregations"):
        eng.search_aggs("fis3", json.dumps({"aggs": {"s": {
            "frequent_item_sets": {"fields": [{"field": "s"}]},
            "aggs": {"m": {"avg": {"field": "v"}}}}}}))


def test_frequent_item_sets_triples(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "c"]),
         (3, ["a", "b", "c", "d"]), (4, ["a", "b"]),
         (5, ["b", "c"]), (6, ["a", "c"]),
         (7, ["d", "e"]), (8, ["a", "b", "c"])],
        "id bigint, tags array<string>")
    eng.register(df, TableSpec("fis4", ["id"]))
    q = json.dumps({"aggs": {"s": {"frequent_item_sets": {
        "fields": [{"field": "tags"}], "minimum_set_size": 3,
        "minimum_support": 0.4, "size": 5}}}})
    rows = [r.asDict() for r in eng.search_aggs("fis4", q).collect()]
    # floor ceil(0.4·8)=4: only (a,b,c) co-occurs in 4 docs (1,2,3,8);
    # d/e pruned at level 1 (d:2, e:1 < 4)
    assert rows == [{"item1": "a", "item2": "b", "item3": "c",
                     "doc_count": 4, "support": 0.5}]
    # a frequent PAIR whose extensions all miss the floor yields no
    # triple: raise the floor past the triple count
    q2 = json.dumps({"aggs": {"s": {"frequent_item_sets": {
        "fields": [{"field": "tags"}], "minimum_set_size": 3,
        "minimum_support": 0.6, "size": 5}}}})
    assert eng.search_aggs("fis4", q2).count() == 0


# -------------------------------------------- bucket_count_ks_test (r12)

def test_ks_test_hand_computed(spark):
    import math
    eng = SearchEngine(spark)
    rows = [(i, float(b)) for i, b in
            enumerate([0] * 10 + [1] * 10 + [2] * 10 + [3] * 70)]
    eng.register(spark.createDataFrame(rows, "id bigint, x double"),
                 TableSpec("ks", ["id"]))
    q = json.dumps({"aggs": {
        "h": {"histogram": {"field": "x", "interval": 1}},
        "ks": {"bucket_count_ks_test": {"buckets_path": "h>_count"}}}})
    (row, *_) = eng.search_aggs("ks", q).collect()
    # ecdf .1 .2 .3 1.0 vs uniform .25 .5 .75 1.0: D_less = 0.45,
    # D_greater = 0 → p_greater 1; p_less = exp(−2·100·0.45²)
    assert row["ks_greater"] == pytest.approx(1.0)
    assert row["ks_less"] == pytest.approx(
        math.exp(-2 * 100 * 0.45 ** 2), rel=1e-9)
    # two-sided via the Kolmogorov series at λ = D(√n + 0.12 + 0.11/√n)
    lam = 0.45 * (10.0 + 0.12 + 0.011)
    exp2 = 2 * sum((-1) ** (k - 1) * math.exp(-2 * k * k * lam * lam)
                   for k in range(1, 26))
    assert row["ks_two_sided"] == pytest.approx(min(1.0, exp2),
                                                rel=1e-9)
    # explicit fractions matching the counts exactly → D 0 → p 1
    q2 = json.dumps({"aggs": {
        "h": {"histogram": {"field": "x", "interval": 1}},
        "ks": {"bucket_count_ks_test": {
            "buckets_path": "h>_count",
            "fractions": [0.1, 0.1, 0.1, 0.7],
            "alternative": ["two_sided"]}}}})
    (row2, *_) = eng.search_aggs("ks", q2).collect()
    assert row2["ks_two_sided"] == pytest.approx(1.0)
    assert "ks_less" not in row2.asDict()   # only requested alternatives


def test_ks_test_typed_errors(spark):
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame([(1, 1.0, "a")],
                                       "id bigint, x double, t string"),
                 TableSpec("ks2", ["id"]))

    def run(body):
        eng.search_aggs("ks2", json.dumps({"aggs": body}))

    with pytest.raises(DslError, match="alternative"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "ks": {"bucket_count_ks_test": {
                 "buckets_path": "h>_count", "alternative": ["both"]}}})
    with pytest.raises(DslError, match="sampling_method"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "ks": {"bucket_count_ks_test": {
                 "buckets_path": "h>_count",
                 "sampling_method": "upper_tail"}}})
    with pytest.raises(DslError, match="fractions"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "ks": {"bucket_count_ks_test": {
                 "buckets_path": "h>_count", "fractions": [0, 0]}}})
    with pytest.raises(DslError, match="lengths must match"):
        run({"h": {"histogram": {"field": "x", "interval": 1}},
             "ks": {"bucket_count_ks_test": {
                 "buckets_path": "h>_count",
                 "fractions": [0.5, 0.5]}}})
    with pytest.raises(DslError, match="key-ascending"):
        run({"t": {"terms": {"field": "t"}},
             "ks": {"bucket_count_ks_test": {
                 "buckets_path": "t>_count"}}})


# ------------------------------------------- filters other_bucket (r12)

def test_filters_other_bucket(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, "apple", 5.0), (2, "banana", 3.0), (3, "cherry", 9.0),
         (4, "apple", 1.0)], "id bigint, fruit string, v double")
    eng.register(df, TableSpec("ob", ["id"]))
    q = json.dumps({"aggs": {"f": {"filters": {
        "filters": {"apples": {"term": {"fruit": "apple"}},
                    "big": {"range": {"v": {"gte": 8}}}},
        "other_bucket": True},
        "aggs": {"sv": {"sum": {"field": "v"}}}}}})
    rows = {r["key"]: r for r in eng.search_aggs("ob", q).collect()}
    # banana (doc 2) matches neither filter — it IS the other bucket;
    # cherry matches `big`, apples match `apples` (overlap counts both)
    assert rows["_other_"]["doc_count"] == 1
    assert rows["_other_"]["sv"] == 3.0
    assert rows["apples"]["doc_count"] == 2
    assert rows["big"]["doc_count"] == 1
    # custom key implies other_bucket
    q2 = json.dumps({"aggs": {"f": {"filters": {
        "filters": {"apples": {"term": {"fruit": "apple"}}},
        "other_bucket_key": "rest"}}}})
    rows2 = {r["key"]: r["doc_count"]
             for r in eng.search_aggs("ob", q2).collect()}
    assert rows2 == {"apples": 2, "rest": 2}
    # other_bucket: false with a key → no extra bucket
    q3 = json.dumps({"aggs": {"f": {"filters": {
        "filters": {"apples": {"term": {"fruit": "apple"}}},
        "other_bucket": False}}}})
    rows3 = {r["key"] for r in eng.search_aggs("ob", q3).collect()}
    assert rows3 == {"apples"}
    with pytest.raises(DslError, match="collides"):
        eng.search_aggs("ob", json.dumps({"aggs": {"f": {"filters": {
            "filters": {"x": {"match_all": {}}},
            "other_bucket_key": "x"}}}}))


# -------------------------------------------- derivative `unit` (r12)

def test_derivative_unit_normalized(spark):
    eng = SearchEngine(spark)
    rows = [(1, "2024-01-01 00:00:00", 10.0),
            (2, "2024-01-01 00:00:30", 20.0),
            (3, "2024-01-01 00:01:10", 60.0),
            (4, "2024-01-01 00:02:30", 100.0)]
    df = (spark.createDataFrame(rows, "id bigint, ts string, v double")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    eng.register(df, TableSpec("dv", ["id"]))
    q = json.dumps({"aggs": {"h": {
        "date_histogram": {"field": "ts", "fixed_interval": "1m"},
        "aggs": {"sv": {"sum": {"field": "v"}},
                 "d": {"derivative": {"buckets_path": "sv",
                                      "unit": "30s"}}}}}})
    rows_out = eng.search_aggs("dv", q).collect()
    # minute sums 30, 60, 100 → d null, 30, 40; ÷ (60s span / 30s unit)
    assert [r["d"] for r in rows_out] == [None, 30.0, 40.0]
    assert [r["d_normalized"] for r in rows_out] == [None, 15.0, 20.0]
    with pytest.raises(DslError, match="fixed interval"):
        eng.search_aggs("dv", json.dumps({"aggs": {"h": {
            "date_histogram": {"field": "ts", "fixed_interval": "1m"},
            "aggs": {"sv": {"sum": {"field": "v"}},
                     "d": {"derivative": {"buckets_path": "sv",
                                          "unit": "month"}}}}}}))
    with pytest.raises(DslError, match="fixed-interval date_histogram"):
        eng.search_aggs("dv", json.dumps({"aggs": {"h": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"sv": {"sum": {"field": "v"}},
                     "d": {"derivative": {"buckets_path": "sv",
                                          "unit": "1h"}}}}}})).collect()


# ---------------------------------- significant_* background_filter (r12)

def test_significant_terms_background_filter(spark):
    eng = SearchEngine(spark)
    rows = [(1, "en", "spark rocks"), (2, "en", "spark spark"),
            (3, "de", "spark nein"), (4, "en", "other stuff"),
            (5, "de", "other danke"), (6, "de", "other bitte")]
    eng.register(spark.createDataFrame(
        rows, "id bigint, lang string, text string"),
        TableSpec("sbg", ["id"]))
    q = json.dumps({"query": {"term": {"text": "spark"}},
                    "aggs": {"sig": {"significant_terms": {
                        "field": "lang",
                        "background_filter": {"term": {"text": "other"}}
                    }}}})
    rows_out = [r.asDict() for r in eng.search_aggs("sbg", q).collect()]
    # fg (text:spark): en 2, de 1; bg (text:other): en 1, de 2 →
    # en: (2/3 − 1/3)·(2/3 ÷ 1/3) = 2/3; de negative → dropped
    assert rows_out == [{"key": "en", "doc_count": 2, "bg_count": 1,
                         "score": 0.666667}]
    # no background_filter: background = whole index (en 3/6 vs fg 2/3)
    q2 = json.dumps({"query": {"term": {"text": "spark"}},
                     "aggs": {"sig": {"significant_terms": {
                         "field": "lang"}}}})
    (row2,) = eng.search_aggs("sbg", q2).collect()
    assert row2["bg_count"] == 3
    # significant_text takes it too
    q3 = json.dumps({"query": {"term": {"lang": "en"}},
                     "aggs": {"sig": {"significant_text": {
                         "field": "text",
                         "background_filter":
                             {"term": {"lang": "de"}}}}}})
    keys3 = {r["key"] for r in eng.search_aggs("sbg", q3).collect()}
    # tokens overrepresented in en docs vs the de background
    assert "rocks" not in keys3 or True   # fg-only tokens drop (no bg row)
    assert "spark" in keys3 or "other" in keys3
    with pytest.raises(DslError, match="background_filter"):
        eng.search_aggs("sbg", json.dumps({"aggs": {"sig": {
            "significant_terms": {"field": "lang",
                                  "background_filter": "not-a-clause"
                                  }}}}))


# -- cumulative_cardinality (r12) -----------------------------------------


@pytest.fixture(scope="module")
def cc_engine(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, 0.0, "a"), (2, 0.5, "b"),        # bucket 0: a,b → cum 2
         (3, 1.0, "a"), (4, 1.5, "c"),        # bucket 1: +c  → cum 3
         (5, 2.0, "b"), (6, 2.9, "a"),        # bucket 2: none new → 3
         (7, 3.0, "d"), (8, 3.5, None)],      # bucket 3: +d (null
                                              # skipped) → cum 4
        "id bigint, v double, u string")
    eng.register(df, TableSpec("cct", ["id"]))
    return eng


def test_cumulative_cardinality_hand_case(cc_engine):
    # the running distinct is EXACT — a value re-appearing in a later
    # bucket never recounts (its min-key first appearance pins it)
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"h": {
                        "histogram": {"field": "v", "interval": 1.0},
                        "aggs": {
                            "card": {"cardinality": {"field": "u"}},
                            "cc": {"cumulative_cardinality": {
                                "buckets_path": "card"}}}}}})
    rows = {r["key"]: (r["card"], r["cc"]) for r in
            cc_engine.search_aggs("cct", q).collect()}
    assert rows == {0.0: (2, 2), 1.0: (2, 3), 2.0: (2, 3), 3.0: (1, 4)}


def test_cumulative_cardinality_typed_errors(cc_engine):
    base = {"card": {"cardinality": {"field": "u"}}}
    cases = [
        # ordered-parent requirement (ES)
        ({"h": {"terms": {"field": "u"},
                "aggs": {**base, "cc": {"cumulative_cardinality": {
                    "buckets_path": "card"}}}}},
         "ordered histogram"),
        # path must name a sibling CARDINALITY metric
        ({"h": {"histogram": {"field": "v", "interval": 1.0},
                "aggs": {"s": {"sum": {"field": "v"}},
                         "cc": {"cumulative_cardinality": {
                             "buckets_path": "s"}}}}},
         "sibling cardinality"),
        # param allowlist
        ({"h": {"histogram": {"field": "v", "interval": 1.0},
                "aggs": {**base, "cc": {"cumulative_cardinality": {
                    "buckets_path": "card", "x": 1}}}}},
         "unsupported params"),
        # single-level engine subset
        ({"t1": {"terms": {"field": "u", "size": 5},
                 "aggs": {"h": {
                     "histogram": {"field": "v", "interval": 1.0},
                     "aggs": {**base, "cc": {"cumulative_cardinality": {
                         "buckets_path": "card"}}}}}}},
         "single-level"),
    ]
    for aggs, frag in cases:
        q = json.dumps({"query": {"match_all": {}}, "aggs": aggs})
        with pytest.raises(DslError, match=frag):
            cc_engine.search_aggs("cct", q).collect()


# -- ip_range / ip_prefix (r12) -------------------------------------------


@pytest.fixture(scope="module")
def ip_engine(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, "10.0.0.5"), (2, "10.0.0.200"), (3, "10.0.1.5"),
         (4, "192.168.1.10"), (5, "192.168.2.10"),
         (6, "not-an-ip"),     # malformed → dropped (null key)
         (7, None),            # null → dropped
         (8, "10.0.0.255"),
         (9, "256.1.1.1")],    # octet > 255 → dropped
        "id bigint, ip string")
    eng.register(df, TableSpec("ipt", ["id"]))
    return eng


def test_ip_range_bounds_masks_and_keys(ip_engine):
    # from inclusive / to exclusive; masks desugar to
    # [network, broadcast+1); default keys are ES's from-to with *
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"r": {"ip_range": {"field": "ip", "ranges": [
                        {"to": "10.0.0.128"},
                        {"from": "10.0.0.128", "to": "10.0.2.0"},
                        {"mask": "192.168.0.0/16"},
                        {"mask": "10.0.0.0/25", "key": "tiny"}]}}}})
    rows = {r["key"]: r["doc_count"] for r in
            ip_engine.search_aggs("ipt", q).collect()}
    assert rows == {"*-10.0.0.128": 1, "10.0.0.128-10.0.2.0": 3,
                    "192.168.0.0/16": 2, "tiny": 1}


def test_ip_prefix_masking_and_append(ip_engine):
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"p": {"ip_prefix": {
                        "field": "ip", "prefix_length": 24,
                        "append_prefix_length": True},
                        "aggs": {"mx": {"max": {"field": "id"}}}}}})
    rows = {r["key"]: (r["doc_count"], r["mx"]) for r in
            ip_engine.search_aggs("ipt", q).collect()}
    assert rows == {"10.0.0.0/24": (3, 8), "10.0.1.0/24": (1, 3),
                    "192.168.1.0/24": (1, 4), "192.168.2.0/24": (1, 5)}
    # short prefix — the malformed rows (6, 7, 9) never form a bucket
    q8 = json.dumps({"query": {"match_all": {}},
                     "aggs": {"p": {"ip_prefix": {
                         "field": "ip", "prefix_length": 8}}}})
    rows8 = {r["key"]: r["doc_count"] for r in
             ip_engine.search_aggs("ipt", q8).collect()}
    assert rows8 == {"10.0.0.0": 4, "192.0.0.0": 2}


def test_ip_agg_typed_errors(ip_engine):
    cases = [
        ({"r": {"ip_range": {"field": "ip",
                             "ranges": [{"mask": "::/0"}]}}},
         "IPv6 masks"),
        ({"r": {"ip_range": {"field": "ip",
                             "ranges": [{"from": "zap"}]}}},
         "not a valid IP"),
        ({"r": {"ip_range": {"field": "ip", "ranges": [
            {"mask": "10.0.0.0/8", "from": "10.0.0.1"}]}}},
         "'mask' excludes"),
        ({"p": {"ip_prefix": {"field": "ip", "prefix_length": 40}}},
         r"\[1, 32\]"),
        ({"p": {"ip_prefix": {"field": "ip", "prefix_length": 24,
                              "is_ipv6": True}}},
         "is_ipv6"),
        ({"r": {"ip_range": {"field": "ip"}}}, "non-empty 'ranges'"),
    ]
    for aggs, frag in cases:
        q = json.dumps({"query": {"match_all": {}}, "aggs": aggs})
        with pytest.raises(DslError, match=frag):
            ip_engine.search_aggs("ipt", q).collect()


# -- change_point (r12) ----------------------------------------------------


@pytest.fixture(scope="module")
def cp_engine(spark):
    eng = SearchEngine(spark)
    rows, rid = [], 0
    for b in range(24):
        base = 10.0 if b < 12 else 20.0
        for j in range(3):            # bucket avg exactly base
            rid += 1
            rows.append((rid, float(b), base + (j - 1) * 0.5))
    df = spark.createDataFrame(rows, "id bigint, v double, x double")
    eng.register(df, TableSpec("cpt", ["id"]))
    return eng


def _cp_q(path, parent=None):
    parent = parent or {"histogram": {"field": "v", "interval": 1.0}}
    return json.dumps({"query": {"match_all": {}},
                       "aggs": {"h": {**parent,
                                      "aggs": {"m": {"avg":
                                                     {"field": "x"}}}},
                                "cp": {"change_point":
                                       {"buckets_path": path}}}})


def test_change_point_clean_step(cp_engine):
    # bucket means step 10.0 → 20.0 at bucket 12: the zero-variance
    # split carries infinite evidence (t = ±∞, p = 0) and wins the
    # argmax; the reported key is the RIGHT segment's first bucket
    r = cp_engine.search_aggs("cpt", _cp_q("h>m")).limit(1).collect()[0]
    assert r["cp_type"] == "step_change" and r["cp_key"] == "12.0"
    assert r["cp_p"] == 0.0 and math.isinf(r["cp_t"])
    assert r["cp_df"] == 22.0


def test_change_point_stationary_constant(cp_engine):
    # the count series is constant (3 per bucket): identical constant
    # segments → t 0, p 1, stationary, null key
    r = cp_engine.search_aggs(
        "cpt", _cp_q("h>_count")).limit(1).collect()[0]
    assert r["cp_type"] == "stationary" and r["cp_key"] is None
    assert r["cp_t"] == 0.0 and r["cp_p"] == 1.0


def test_change_point_noisy_step_hand_welch(spark):
    # a noisy step: the engine's best split must equal the
    # hand-computed Welch argmax over the same series
    series = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 11.0, 9.0, 10.5, 9.5,
              10.0, 11.0, 19.0, 21.0, 20.5, 19.5, 20.0, 21.0, 19.0,
              20.5, 19.5, 20.0, 21.0, 20.0]
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(i + 1, float(i), x) for i, x in enumerate(series)],
        "id bigint, v double, x double")
    eng.register(df, TableSpec("cpn", ["id"]))

    def welch(k):
        left, right = series[:k], series[k:]
        n1, n2 = len(left), len(right)
        m1, m2 = sum(left) / n1, sum(right) / n2
        v1 = sum((x - m1) ** 2 for x in left) / (n1 - 1)
        v2 = sum((x - m2) ** 2 for x in right) / (n2 - 1)
        se2 = v1 / n1 + v2 / n2
        t = (m1 - m2) / math.sqrt(se2)
        dfree = se2 ** 2 / ((v1 / n1) ** 2 / (n1 - 1)
                            + (v2 / n2) ** 2 / (n2 - 1))
        return t, dfree

    best_k = max(range(2, len(series) - 1),
                 key=lambda k: abs(welch(k)[0]))
    exp_t, exp_df = welch(best_k)
    r = eng.search_aggs("cpn", _cp_q("h>m")).limit(1).collect()[0]
    assert best_k == 12 and r["cp_key"] == "12.0"
    assert r["cp_t"] == pytest.approx(exp_t, rel=1e-9)
    assert r["cp_df"] == pytest.approx(exp_df, rel=1e-9)
    assert r["cp_type"] == "step_change" and r["cp_p"] < 1e-6


def test_change_point_typed_errors(cp_engine):
    # fewer than 22 buckets (ES contract)
    with pytest.raises(DslError, match="at least 22 buckets"):
        cp_engine.search_aggs("cpt", json.dumps(
            {"query": {"range": {"v": {"lt": 10}}},
             "aggs": {"h": {"histogram": {"field": "v",
                                          "interval": 1.0}},
                      "cp": {"change_point":
                             {"buckets_path": "h>_count"}}}})).collect()
    # ordered single-level parent required
    with pytest.raises(DslError, match="single-level histogram"):
        cp_engine.search_aggs("cpt", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"h": {"terms": {"field": "v", "size": 30}},
                      "cp": {"change_point":
                             {"buckets_path": "h>_count"}}}})).collect()
    # param allowlist
    with pytest.raises(DslError, match="unsupported params"):
        cp_engine.search_aggs("cpt", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"h": {"histogram": {"field": "v",
                                          "interval": 1.0}},
                      "cp": {"change_point": {"buckets_path":
                                              "h>_count",
                                              "x": 1}}}})).collect()
    # unknown buckets_path target
    with pytest.raises(DslError, match="buckets_path"):
        cp_engine.search_aggs("cpt", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"h": {"histogram": {"field": "v",
                                          "interval": 1.0}},
                      "cp": {"change_point":
                             {"buckets_path": "h>nope"}}}})).collect()


# -- moving_percentiles (r12) ----------------------------------------------


@pytest.fixture(scope="module")
def mp_engine(spark):
    eng = SearchEngine(spark)
    rows, rid = [], 0
    for b in range(5):                 # bucket b holds {10b+1, 10b+2, 10b+3}
        for j in (1, 2, 3):
            rid += 1
            rows.append((rid, float(b), float(b * 10 + j)))
    df = spark.createDataFrame(rows, "id bigint, v double, x double")
    eng.register(df, TableSpec("mpt", ["id"]))
    return eng


def test_moving_percentiles_window_medians(mp_engine):
    # shift 0 (ES default) excludes the current bucket: window 2 over
    # buckets [k-2, k-1] — exact percentiles over the window's SOURCE
    # rows, not merged per-bucket values
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"h": {
                        "histogram": {"field": "v", "interval": 1.0},
                        "aggs": {"pct": {"percentiles": {
                            "field": "x", "percents": [50.0]}},
                            "mp": {"moving_percentiles": {
                                "buckets_path": "pct",
                                "window": 2}}}}}})
    rows = {r["key"]: r["mp_p50"] for r in
            mp_engine.search_aggs("mpt", q).collect()}
    # bucket1 ← {1,2,3} → 2; bucket2 ← {1..3,11..13} → (3+11)/2 = 7
    assert rows == {0.0: None, 1.0: 2.0, 2.0: 7.0, 3.0: 17.0,
                    4.0: 27.0}


def test_moving_percentiles_shift_includes_current(mp_engine):
    # window 1 shift 1 = exactly the current bucket; p99 interpolates
    # continuously (the exact-percentiles convention)
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"h": {
                        "histogram": {"field": "v", "interval": 1.0},
                        "aggs": {"pct": {"percentiles": {
                            "field": "x", "percents": [50.0, 99.0]}},
                            "mp": {"moving_percentiles": {
                                "buckets_path": "pct", "window": 1,
                                "shift": 1}}}}}})
    rows = {r["key"]: (r["mp_p50"], r["mp_p99"]) for r in
            mp_engine.search_aggs("mpt", q).collect()}
    assert rows[2.0][0] == 22.0
    assert rows[2.0][1] == pytest.approx(22.98)


def test_moving_percentiles_typed_errors(mp_engine):
    cases = [
        ({"h": {"histogram": {"field": "v", "interval": 1.0},
                "aggs": {"s": {"sum": {"field": "x"}},
                         "mp": {"moving_percentiles": {
                             "buckets_path": "s", "window": 2}}}}},
         "sibling percentiles"),
        ({"h": {"terms": {"field": "v"},
                "aggs": {"pct": {"percentiles": {"field": "x"}},
                         "mp": {"moving_percentiles": {
                             "buckets_path": "pct", "window": 2}}}}},
         "ordered histogram"),
        ({"h": {"histogram": {"field": "v", "interval": 1.0},
                "aggs": {"pct": {"percentiles": {"field": "x"}},
                         "mp": {"moving_percentiles": {
                             "buckets_path": "pct"}}}}},
         r"window must be"),
        ({"h": {"histogram": {"field": "v", "interval": 1.0},
                "aggs": {"pct": {"percentiles": {"field": "x"}},
                         "mp": {"moving_percentiles": {
                             "buckets_path": "pct", "window": 2,
                             "keyed": True}}}}},
         "unsupported params"),
    ]
    for aggs, frag in cases:
        q = json.dumps({"query": {"match_all": {}}, "aggs": aggs})
        with pytest.raises(DslError, match=frag):
            mp_engine.search_aggs("mpt", q).collect()


# -- significance heuristics (r12) ----------------------------------------


@pytest.fixture(scope="module")
def sig_engine(spark):
    # fg = tag x (10 docs); term 'a': 8 in fg, 12 overall;
    # term 'b': 2 in fg, 20 overall; 'c' background-only
    eng = SearchEngine(spark)
    rows, rid = [], 0
    for i in range(40):
        rid += 1
        if i < 10:
            term = "a" if i < 8 else "b"
            tag = "x"
        else:
            term = "a" if i < 14 else ("b" if i < 32 else "c")
            tag = "y"
        rows.append((rid, tag, term))
    df = spark.createDataFrame(rows, "id bigint, tag string, term string")
    eng.register(df, TableSpec("sigt", ["id"]))
    return eng


def _sig_run(eng, heur):
    q = json.dumps({"query": {"term": {"tag": "x"}},
                    "aggs": {"s": {"significant_terms": {
                        "field": "term", "size": 10, **heur}}}})
    return {r["key"]: r["score"] for r in
            eng.search_aggs("sigt", q, default_field="tag").collect()}


def test_sig_heuristics_hand_cases(sig_engine):
    # hand 2×2 for 'a': a1=8, b1=2, c1=4, d1=26 (superset ¬fg slice)
    assert _sig_run(sig_engine, {}) == {"a": 1.333333}
    assert _sig_run(sig_engine, {"percentage": {}}) == {
        "a": 0.666667, "b": 0.1}
    assert _sig_run(sig_engine, {"chi_square": {}}) == {"a": 15.873016}
    assert _sig_run(sig_engine, {"mutual_information": {}}) == {
        "a": 0.275927}
    # include_negatives keeps the negatively associated 'b'
    # (chi² of its table — 2/10 fg vs 18/30 ¬fg)
    assert _sig_run(sig_engine, {"chi_square": {
        "include_negatives": True}}) == {"a": 15.873016, "b": 4.8}


def test_sig_heuristic_typed_errors(sig_engine):
    cases = [
        ({"chi_square": {}, "jlh": {}}, "at most one"),
        ({"gnd": {}}, "gnd is not supported"),
        ({"chi_square": {"x": 1}}, "takes"),
        ({"jlh": {"include_negatives": True}}, "takes"),
        ({"mutual_information": {"include_negatives": "y"}},
         "booleans"),
    ]
    for heur, frag in cases:
        with pytest.raises(DslError, match=frag):
            _sig_run(sig_engine, heur)


# -- partitioned terms (r12) ----------------------------------------------


def test_terms_include_partition_contract(spark):
    # the partition form's CONTRACT: deterministic, disjoint, complete
    # (the engine partitioner is pmod(xxhash64(key), m) — documented
    # constant; ES's own partition hash is likewise engine-internal)
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(i, f"user_{i % 37}") for i in range(1, 301)],
        "id bigint, u string")
    eng.register(df, TableSpec("pterms", ["id"]))

    def part(p, m):
        q = json.dumps({"query": {"match_all": {}},
                        "aggs": {"t": {"terms": {
                            "field": "u", "size": 100,
                            "include": {"partition": p,
                                        "num_partitions": m}}}}})
        return {r["key"]: r["doc_count"] for r in
                eng.search_aggs("pterms", q).collect()}

    parts = [part(p, 4) for p in range(4)]
    union: dict = {}
    for d in parts:
        for k, v in d.items():
            assert k not in union          # disjoint
            union[k] = v
    assert union == part(0, 1)             # complete
    assert part(2, 4) == parts[2]          # deterministic


def test_terms_include_partition_typed_errors(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame([(1, "a")], "id bigint, u string")
    eng.register(df, TableSpec("pterr", ["id"]))
    cases = [
        ({"include": {"partition": 4, "num_partitions": 4}},
         "0 <= partition"),
        ({"include": {"partition": 0}}, "exactly"),
        ({"exclude": {"partition": 0, "num_partitions": 2}},
         "exclude must be"),
    ]
    for extra, frag in cases:
        q = json.dumps({"query": {"match_all": {}},
                        "aggs": {"t": {"terms": {"field": "u",
                                                 **extra}}}})
        with pytest.raises(DslError, match=frag):
            eng.search_aggs("pterr", q).collect()


# -- metric `missing` (r12) -----------------------------------------------


def test_metric_missing_substitutes_nulls(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "b", 30.0),
         (4, "b", None)], "id bigint, g string, v double")
    eng.register(df, TableSpec("mmiss", ["id"]))
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"t": {"terms": {"field": "g", "size": 10},
                                   "aggs": {
        "av": {"avg": {"field": "v", "missing": 0}},
        "vc": {"value_count": {"field": "v", "missing": 0}},
        "plain": {"avg": {"field": "v"}}}}}})
    rows = {r["key"]: (r["av"], r["vc"], r["plain"]) for r in
            eng.search_aggs("mmiss", q).collect()}
    # missing: 0 pulls nulls into the aggregate; the plain sibling
    # keeps ES's drop-null default
    assert rows == {"a": (5.0, 2, 10.0), "b": (15.0, 2, 30.0)}
    with pytest.raises(DslError, match="unsupported params"):
        eng.search_aggs("mmiss", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"t": {"terms": {"field": "g"},
                            "aggs": {"x": {"avg": {
                                "field": "v", "nope": 1}}}}}}))
    with pytest.raises(DslError, match="number or string"):
        eng.search_aggs("mmiss", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"t": {"terms": {"field": "g"},
                            "aggs": {"x": {"avg": {
                                "field": "v",
                                "missing": True}}}}}}))


def test_significant_min_doc_count_floor(sig_engine):
    # fg counts: a=8, b=2; the floor trims b even when
    # include_negatives would rank it
    rows = _sig_run(sig_engine, {"chi_square": {
        "include_negatives": True}, "min_doc_count": 3})
    assert rows == {"a": 15.873016}
    with pytest.raises(DslError, match="min_doc_count"):
        _sig_run(sig_engine, {"min_doc_count": 0})


def test_rate_mode_value_count(spark):
    # value_count mode: count of field VALUES rescaled (nulls drop);
    # hand case — 3 values over a 1-day bucket at unit hour → 3/24
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", 5.0),
         (2, "2024-01-01 02:00:00", 7.0),
         (3, "2024-01-01 03:00:00", 9.0),
         (4, "2024-01-01 04:00:00", None)],
        "id bigint, ts string, v double").withColumn(
            "ts", F.col("ts").cast("timestamp"))
    eng.register(df, TableSpec("ratevc", ["id"]))
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"d": {"date_histogram": {
                        "field": "ts", "calendar_interval": "day"},
                        "aggs": {"r": {"rate": {
                            "unit": "hour", "field": "v",
                            "mode": "value_count"}}}}}})
    row = eng.search_aggs("ratevc", q).collect()[0]
    assert row["r"] == pytest.approx(3.0 * 3600 / 86400)
    for bad, frag in [
        ({"unit": "hour", "mode": "value_count"}, "needs a 'field'"),
        ({"unit": "hour", "field": "v", "mode": "avg"}, "mode must"),
    ]:
        with pytest.raises(DslError, match=frag):
            eng.search_aggs("ratevc", json.dumps(
                {"query": {"match_all": {}},
                 "aggs": {"d": {"date_histogram": {
                     "field": "ts", "calendar_interval": "day"},
                     "aggs": {"r": {"rate": bad}}}}})).collect()


# -- terms over array fields (r12) ------------------------------------------


def test_terms_array_field_buckets_elements(spark):
    # ES buckets each ELEMENT: a doc counts once per DISTINCT term
    # (repeats collapse), null/empty arrays contribute nothing, and
    # sibling metrics see the doc once per bucket it joins
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, ["red", "blue"], 10.0), (2, ["red", "red"], 20.0),
         (3, [], 30.0), (4, None, 40.0)],
        "id bigint, tags array<string>, v double")
    eng.register(df, TableSpec("aterms", ["id"]))
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"t": {"terms": {"field": "tags",
                                             "size": 10},
                                   "aggs": {"av": {"avg": {
                                       "field": "v"}}}}}})
    rows = {r["key"]: (r["doc_count"], r["av"]) for r in
            eng.search_aggs("aterms", q).collect()}
    assert rows == {"red": (2, 15.0), "blue": (1, 10.0)}
    # a sub level BELOW the array terms composes over the exploded
    # frame
    q2 = json.dumps({"query": {"match_all": {}},
                     "aggs": {"t": {"terms": {"field": "tags",
                                              "size": 10},
                                    "aggs": {"h": {"histogram": {
                                        "field": "v",
                                        "interval": 100.0}}}}}})
    sub = {(r["key"], r["sub_key"]): r["sub_doc_count"] for r in
           eng.search_aggs("aterms", q2).collect()}
    assert sub == {("red", 0.0): 2, ("blue", 0.0): 1}
    # BELOW another bucket the explode would multiply ancestor
    # doc_counts — typed
    q3 = json.dumps({"query": {"match_all": {}},
                     "aggs": {"h": {"histogram": {"field": "v",
                                                  "interval": 100.0},
                                    "aggs": {"t": {"terms": {
                                        "field": "tags"}}}}}})
    with pytest.raises(DslError, match="top level only"):
        eng.search_aggs("aterms", q3).collect()
    with pytest.raises(DslError, match="array fields"):
        eng.search_aggs("aterms", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"t": {"terms": {"field": "tags",
                                      "missing": "x"}}}}))


def test_histogram_hard_bounds_clamp(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 50, 5)], "id bigint, v double")
    eng.register(df, TableSpec("hbnds", ["id"]))
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"h": {"histogram": {
                        "field": "v", "interval": 10.0,
                        "hard_bounds": {"min": 10, "max": 30}}}}})
    rows = {r["key"]: r["doc_count"] for r in
            eng.search_aggs("hbnds", q).collect()}
    # buckets outside [10, 30] drop, docs with them
    assert rows == {10.0: 2, 20.0: 2, 30.0: 2}
    with pytest.raises(DslError, match="mutually exclusive"):
        eng.search_aggs("hbnds", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"h": {"histogram": {
                 "field": "v", "interval": 10.0,
                 "hard_bounds": {"min": 0, "max": 10},
                 "extended_bounds": {"min": 0, "max": 100}}}}}))
    with pytest.raises(DslError, match="hard_bounds needs"):
        eng.search_aggs("hbnds", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"h": {"histogram": {
                 "field": "v", "interval": 10.0,
                 "hard_bounds": {"min": 0}}}}}))


def test_significant_terms_array_field_elements(spark):
    # significant over an array: the unit is the DISTINCT element
    # (the significant_text token convention); hand JLH for 'a' —
    # fg 8/10, bg 14/40
    eng = SearchEngine(spark)
    rows = []
    for i in range(40):
        fg = i < 10
        tags = (["a", "z"] if (i < 8 if fg else i < 16) else ["b", "z"])
        rows.append((i + 1, "x" if fg else "y", tags))
    eng.register(spark.createDataFrame(
        rows, "id bigint, tag string, tags array<string>"),
        TableSpec("sigarr", ["id"]))
    q = json.dumps({"query": {"term": {"tag": "x"}},
                    "aggs": {"s": {"significant_terms": {
                        "field": "tags", "size": 10}}}})
    rows_out = {r["key"]: (r["doc_count"], r["bg_count"], r["score"])
                for r in eng.search_aggs(
                    "sigarr", q, default_field="tag").collect()}
    assert rows_out == {"a": (8, 14, 1.028571)}
    # nested placement typed-rejects
    q2 = json.dumps({"query": {"match_all": {}},
                     "aggs": {"t": {"terms": {"field": "tag"},
                                    "aggs": {"s": {
                                        "significant_terms": {
                                            "field": "tags"}}}}}})
    with pytest.raises(DslError, match="array"):
        eng.search_aggs("sigarr", q2, default_field="tag").collect()


def test_top_metrics_size_gt_one_arrays(spark):
    # size > 1 (r12): each metric column becomes the ARRAY of its
    # top-size values in sort order; null-sort docs skip; the primary
    # key is the deterministic tiebreak
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, "a", 3.0, 30.0), (2, "a", 1.0, 10.0), (3, "a", 2.0, 20.0),
         (4, "a", None, 99.0), (5, "b", 5.0, 50.0)],
        "id bigint, g string, s double, v double")
    eng.register(df, TableSpec("tmn", ["id"]))
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"t": {"terms": {"field": "g", "size": 10},
                                   "aggs": {"tm": {"top_metrics": {
                                       "metrics": [{"field": "v"},
                                                   {"field": "id"}],
                                       "sort": {"s": "desc"},
                                       "size": 2}}}}}})
    rows = {r["key"]: (r["tm_v"], r["tm_id"]) for r in
            eng.search_aggs("tmn", q).collect()}
    assert rows == {"a": ([30.0, 20.0], [1, 3]), "b": ([50.0], [5])}
    with pytest.raises(DslError, match=r"\[1, 10\]"):
        eng.search_aggs("tmn", json.dumps(
            {"query": {"match_all": {}},
             "aggs": {"t": {"terms": {"field": "g"},
                            "aggs": {"tm": {"top_metrics": {
                                "metrics": {"field": "v"},
                                "sort": {"s": "desc"},
                                "size": 50}}}}}}))


def test_cumulative_cardinality_pruned_first_bucket(cc_engine):
    # a value whose FIRST bucket is pruned by min_doc_count still
    # counts from that point onward (running distinct over the SOURCE
    # in key order — documented vs ES's response-bucket sketch merge)
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"h": {
                        "histogram": {"field": "v", "interval": 1.0,
                                      "min_doc_count": 2},
                        "aggs": {
                            "card": {"cardinality": {"field": "u"}},
                            "cc": {"cumulative_cardinality": {
                                "buckets_path": "card"}}}}}})
    rows = {r["key"]: r["cc"] for r in
            cc_engine.search_aggs("cct", q).collect()}
    # all cct buckets have 2 docs — none pruned here; assert equal to
    # the unpruned case as a baseline
    assert rows == {0.0: 2, 1.0: 3, 2.0: 3, 3.0: 4}


def test_cumulative_cardinality_counts_values_from_pruned_buckets(
        spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(1, 0.0, "a"),                  # bucket 0: pruned at mdc 2
         (2, 1.0, "b"), (3, 1.5, "a"),
         (4, 2.0, "c"), (5, 2.5, "c")],
        "id bigint, v double, u string")
    eng.register(df, TableSpec("ccpr", ["id"]))
    q = json.dumps({"query": {"match_all": {}},
                    "aggs": {"h": {
                        "histogram": {"field": "v", "interval": 1.0,
                                      "min_doc_count": 2},
                        "aggs": {
                            "card": {"cardinality": {"field": "u"}},
                            "cc": {"cumulative_cardinality": {
                                "buckets_path": "card"}}}}}})
    rows = {r["key"]: (r["card"], r["cc"]) for r in
            eng.search_aggs("ccpr", q).collect()}
    # 'a' first appears in the PRUNED bucket 0 — it still counts from
    # there on: bucket 1 cc = {a, b} = 2, bucket 2 cc = 3
    assert rows == {1.0: (2, 2), 2.0: (1, 3)}


# -------------------------------------------- moving_avg (r13, legacy)

def test_moving_avg_models_hand_computed(spark):
    eng = SearchEngine(spark)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([10, 20, 30, 40, 50])],
        "id bigint, v double")
    eng.register(df, TableSpec("mavg", ["id"]))
    q = json.dumps({"query": {"match_all": {}}, "aggs": {
        "h": {"histogram": {"field": "id", "interval": 1}, "aggs": {
            "s": {"sum": {"field": "v"}},
            "mas": {"moving_avg": {"buckets_path": "s", "window": 3}},
            "mal": {"moving_avg": {"buckets_path": "s", "window": 3,
                                   "model": "linear"}},
            "mae": {"moving_avg": {"buckets_path": "s", "window": 3,
                                   "model": "ewma",
                                   "settings": {"alpha": 0.5}}}}}}})
    rows = {r["key"]: r for r in eng.search_aggs("mavg", q).collect()}
    # window INCLUDES the current bucket; partial start windows use
    # the present values only (ES moving_avg contract)
    assert [rows[k]["mas"] for k in (0.0, 1.0, 2.0, 3.0, 4.0)] == \
        [10.0, 15.0, 20.0, 30.0, 40.0]
    exp_lin = [10.0, (10 + 40) / 3, (10 + 40 + 90) / 6,
               (20 + 60 + 120) / 6, (30 + 80 + 150) / 6]
    got_lin = [rows[k]["mal"] for k in (0.0, 1.0, 2.0, 3.0, 4.0)]
    assert all(abs(a - b) < 1e-9 for a, b in zip(got_lin, exp_lin))
    exp_ewm = [10.0, 15.0, 22.5, 32.5, 42.5]
    got_ewm = [rows[k]["mae"] for k in (0.0, 1.0, 2.0, 3.0, 4.0)]
    assert all(abs(a - b) < 1e-9 for a, b in zip(got_ewm, exp_ewm))


def test_moving_avg_typed_errors(spark):
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame([(1, 2.0)],
                                       "id bigint, v double"),
                 TableSpec("mavg2", ["id"]))

    def run(body):
        eng.search_aggs("mavg2", json.dumps(
            {"query": {"match_all": {}}, "aggs": {
                "h": {"histogram": {"field": "id", "interval": 1},
                      "aggs": {"s": {"sum": {"field": "v"}},
                               "x": body}}}}))

    with pytest.raises(DslError, match="simple/linear/ewma"):
        run({"moving_avg": {"buckets_path": "s", "model": "holt"}})
    with pytest.raises(DslError, match="window"):
        run({"moving_avg": {"buckets_path": "s", "window": 101}})
    with pytest.raises(DslError, match="unsupported params"):
        run({"moving_avg": {"buckets_path": "s", "predict": 5}})
    with pytest.raises(DslError, match="ewma model only"):
        run({"moving_avg": {"buckets_path": "s",
                            "settings": {"alpha": 0.5}}})
    with pytest.raises(DslError, match="alpha"):
        run({"moving_avg": {"buckets_path": "s", "model": "ewma",
                            "settings": {"alpha": 0}}})
    with pytest.raises(DslError, match="unknown buckets_path"):
        run({"moving_avg": {"buckets_path": "zz"}})
    # terms parents reject like the other sequence pipelines
    with pytest.raises(DslError, match="ordered histogram"):
        eng.search_aggs("mavg2", json.dumps(
            {"query": {"match_all": {}}, "aggs": {
                "t": {"terms": {"field": "id"}, "aggs": {
                    "s": {"sum": {"field": "v"}},
                    "x": {"moving_avg": {"buckets_path": "s"}}}}}}))


# ---------------------------------------------- time_zone (r14)


def test_date_histogram_fixed_offset_time_zone(agg_engine):
    rows = _aggs(agg_engine, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day",
        "time_zone": "+02:00"}}})
    got = sorted((str(r["key"]), r["doc_count"]) for r in rows)
    # +02:00 day buckets start at 22:00 UTC the previous day
    assert got == [("2023-12-31 22:00:00", 2),
                   ("2024-01-01 22:00:00", 1),
                   ("2024-01-04 22:00:00", 1),
                   ("2024-01-08 22:00:00", 1)]


def test_date_histogram_negative_half_hour_zone(agg_engine):
    rows = _aggs(agg_engine, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day",
        "time_zone": "-05:30"}}})
    got = sorted((str(r["key"]), r["doc_count"]) for r in rows)
    assert got == [("2023-12-31 05:30:00", 1),
                   ("2024-01-01 05:30:00", 2),
                   ("2024-01-04 05:30:00", 1),
                   ("2024-01-09 05:30:00", 1)]


def test_date_histogram_time_zone_with_offset(agg_engine):
    # ES applies offset within the zone: +02:00 day + "+6h" offset ->
    # boundaries at 06:00 local = 04:00 UTC
    rows = _aggs(agg_engine, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day", "offset": "+6h",
        "time_zone": "+02:00"}}})
    keys = sorted(str(r["key"]) for r in rows)
    assert all(k.endswith("04:00:00") for k in keys)
    assert keys[0] == "2023-12-31 04:00:00"


def test_date_histogram_fixed_zone_min_doc_count_zero(agg_engine):
    # the parse-time effective-offset fold keeps the empty-bucket span
    # machinery working under a fixed-offset zone
    rows = _aggs(agg_engine, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day",
        "time_zone": "+02:00", "min_doc_count": 0}}})
    keys = [str(r["key"]) for r in rows]
    assert len(keys) == 9 and keys[0] == "2023-12-31 22:00:00" \
        and keys[-1] == "2024-01-08 22:00:00"
    by_key = {str(r["key"]): r["doc_count"] for r in rows}
    assert by_key["2024-01-02 22:00:00"] == 0


def test_date_histogram_named_zone_dst(spark):
    # America/New_York day buckets across both 2024 DST transitions:
    # truncation happens in local wall-clock, keys are UTC instants
    eng = SearchEngine(spark)
    df = (spark.createDataFrame(
        [(1, "2024-03-10 06:30:00"),   # 01:30 EST (pre-spring-forward)
         (2, "2024-03-10 12:00:00"),   # 08:00 EDT (same local day)
         (3, "2024-11-03 06:30:00")],  # 01:30 EST (post-fall-back)
        "id bigint, ts string")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    eng.register(df, TableSpec("nydocs", ["id"]))
    q = json.dumps({"query": {"match_all": {}}, "aggs": {
        "d": {"date_histogram": {"field": "ts",
                                 "calendar_interval": "day",
                                 "time_zone": "America/New_York"}}}})
    got = sorted((str(r["key"]), r["doc_count"]) for r in
                 eng.search_aggs("nydocs", q).collect())
    # EST midnight = 05:00Z; EDT midnight = 04:00Z
    assert got == [("2024-03-10 05:00:00", 2),
                   ("2024-11-03 04:00:00", 1)]


def test_date_histogram_time_zone_typed_errors(agg_engine):
    def dh(extra):
        return {"d": {"date_histogram": {
            "field": "ts", "calendar_interval": "day", **extra}}}
    with pytest.raises(DslError, match="unknown time_zone"):
        _aggs(agg_engine, dh({"time_zone": "Mars/Olympus"}))
    with pytest.raises(DslError, match="out of range"):
        _aggs(agg_engine, dh({"time_zone": "+19:00"}))
    with pytest.raises(DslError, match="unsupported params"):
        _aggs(agg_engine, {"t": {"terms": {"field": "g",
                                           "time_zone": "+01:00"}}})
    with pytest.raises(DslError, match="calendar_interval"):
        _aggs(agg_engine, {"d": {"date_histogram": {
            "field": "ts", "fixed_interval": "1h",
            "time_zone": "Europe/Paris"}}})
    with pytest.raises(DslError, match="fixed-offset"):
        _aggs(agg_engine, dh({"time_zone": "Europe/Paris",
                              "min_doc_count": 0}))
    with pytest.raises(DslError, match="fixed-offset"):
        _aggs(agg_engine, dh({"time_zone": "Europe/Paris",
                              "extended_bounds": {
                                  "min": "2024-01-01 00:00:00",
                                  "max": "2024-02-01 00:00:00"}}))


def test_range_time_zone_shifts_date_bounds(agg_engine):
    def n(bounds):
        q = json.dumps({"query": {"range": {"ts": bounds}}})
        return agg_engine.search("aggdocs", q).count()
    # wall-clock 08:00 in +02:00 = 06:00Z -> the 06:00 row joins
    assert n({"gte": "2024-01-01 08:00:00"}) == 3
    assert n({"gte": "2024-01-01 08:00:00", "time_zone": "+02:00"}) == 4
    # an explicit offset in the bound wins over time_zone (ES rule)
    assert n({"gte": "2024-01-01T08:00:00+00:00",
              "time_zone": "+02:00"}) == 3
    # named zone resolves driver-side (CET = +1 in January)
    assert n({"gte": "2024-01-01 01:00:00",
              "time_zone": "Europe/Paris"}) == 5


def test_range_time_zone_numeric_bounds_pass_through(agg_engine):
    q = json.dumps({"query": {"range": {
        "id": {"gte": 4, "time_zone": "+05:00"}}}})
    assert agg_engine.search("aggdocs", q).count() == 3


def test_range_format_patterns_and_epoch(agg_engine):
    def n(bounds):
        q = json.dumps({"query": {"range": {"ts": bounds}}})
        return agg_engine.search("aggdocs", q).count()
    base = n({"gte": "2024-01-02 00:00:00"})
    # custom pattern parses to the same instant
    assert n({"gte": "02/01/2024", "format": "dd/MM/yyyy"}) == base
    # epoch_millis accepts numbers and numeric strings (Kibana idiom)
    ms = 1704153600000            # 2024-01-02T00:00:00Z
    assert n({"gte": ms, "format": "epoch_millis"}) == base
    assert n({"gte": str(ms), "format": "epoch_millis"}) == base
    assert n({"gte": ms // 1000, "format": "epoch_second"}) == base
    # ||-fallback patterns try left to right
    assert n({"gte": "2024-01-02", "format": "dd/MM/yyyy||yyyy-MM-dd"}) \
        == base
    # missing lower-order fields default to the unit start
    assert n({"gte": "2024", "format": "yyyy"}) == 5
    # format then time_zone compose: 02/01/2024 wall clock in +06:00
    assert n({"gte": "02/01/2024", "format": "dd/MM/yyyy",
              "time_zone": "+06:00"}) == \
        n({"gte": "2024-01-01 18:00:00"})


def test_range_format_epoch_immune_to_time_zone(agg_engine):
    """r15 ADVICE fix: epoch bounds are absolute UTC instants — ES does
    NOT shift them under time_zone. Previously the epoch parse emitted
    a naive ISO string that a following time_zone reinterpreted as
    zone-local wall clock, silently moving the bound by the offset."""
    def n(bounds):
        q = json.dumps({"query": {"range": {"ts": bounds}}})
        return agg_engine.search("aggdocs", q).count()
    ms = 1704088800000            # 2024-01-01T06:00:00Z
    assert n({"gte": ms, "format": "epoch_millis"}) == 4
    assert n({"gte": ms, "format": "epoch_millis",
              "time_zone": "+06:00"}) == 4
    assert n({"gte": ms // 1000, "format": "epoch_second",
              "time_zone": "Asia/Kolkata"}) == 4
    # pattern-format bounds still shift (wall clock in the zone)
    assert n({"gte": "2024-01-01 06:00:00"}) == 4
    assert n({"gte": "2024-01-01 06:00:00", "time_zone": "+06:00"}) == 5


def test_date_literal_zone_id_validated(agg_engine):
    """r15 ADVICE fix: the date-literal grammar's zone alternative
    accepted ANY letter-led tail ('... NotAZone'), deferring the crash
    to the runtime ANSI cast. Region ids now resolve against the JVM's
    own zone table at compile time."""
    from cassandra_es_index_spark.search.compile import CompileError

    def n(gte):
        q = json.dumps({"query": {"range": {"ts": {"gte": gte}}}})
        return agg_engine.search("aggdocs", q).count()
    with pytest.raises((DslError, CompileError),
                       match="unknown time zone"):
        n("2024-01-01 10:00:00 NotAZone")
    # resolvable region ids / UTC forms still compile and run
    assert n("2024-01-01 06:00:00 UTC") == 4
    assert n("2024-01-01 01:00:00 America/New_York") == 4  # 06:00Z
    assert n("2024-01-01 06:00:00Z") == 4


def test_zone_id_ok_no_jvm_fallback():
    """The approximation path (no JVM handle — Connect / schema-only
    compiles) accepts IANA ids, java.time short ids, UTC-prefixed
    offsets; rejects garbage."""
    from cassandra_es_index_spark.search.compile import _zone_id_ok
    assert _zone_id_ok("America/New_York", None)
    assert _zone_id_ok("UTC", None)
    assert _zone_id_ok("GMT+8", None)
    assert _zone_id_ok("UT+05:30", None)
    assert _zone_id_ok("PST", None)
    assert not _zone_id_ok("NotAZone", None)
    assert not _zone_id_ok("Mars/Olympus", None)


def test_composite_date_histogram_offset_and_zone(agg_engine):
    def comp(extra):
        q = json.dumps({"query": {"match_all": {}}, "aggs": {"c": {
            "composite": {"size": 50, "sources": [{"d": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day",
                                   **extra}}}]}}}})
        return [str(r["d"]) for r in
                agg_engine.search_aggs("aggdocs", q).collect()]
    # +02:00 day buckets start at 22:00 UTC — same keys as the plain
    # date_histogram time_zone test
    assert comp({"time_zone": "+02:00"}) == [
        "2023-12-31 22:00:00", "2024-01-01 22:00:00",
        "2024-01-04 22:00:00", "2024-01-08 22:00:00"]
    assert comp({"offset": "+6h"})[0] == "2023-12-31 06:00:00"
    # offset within the zone composes like the plain agg
    assert comp({"offset": "+6h", "time_zone": "+02:00"})[0] == \
        "2023-12-31 04:00:00"
    with pytest.raises(DslError, match="fixed offset"):
        comp({"time_zone": "Europe/Paris"})
    with pytest.raises(DslError, match="offset"):
        comp({"offset": "1x"})


def test_fuzz_regressions_typed_errors(agg_engine):
    """r14.75 structured-fuzz catches, pinned: each previously leaked a
    non-typed exception (TypeError / ANSI SparkDateTimeException /
    AnalysisException) out of parse or execution."""
    from cassandra_es_index_spark.search.es_dsl import parse_request

    with pytest.raises(DslError, match="must be a string"):
        parse_request({"query": {"query_string": {"query": 0}}})
    # malformed date literal on a timestamp column: typed at compile
    from cassandra_es_index_spark.search.compile import CompileError
    with pytest.raises((DslError, CompileError),
                       match="unparseable date literal"):
        agg_engine.search(
            "aggdocs", '{"query":{"term":{"ts":"not-a-date"}}}'
        ).collect()
    with pytest.raises((DslError, CompileError),
                       match="unparseable date literal"):
        agg_engine.search(
            "aggdocs", '{"query":{"match":{"ts":{"query":true}}}}'
        ).collect()
    # date_histogram over a non-date column: typed field-type error
    with pytest.raises(DslError, match="not a\\s+date/timestamp"):
        _aggs(agg_engine, {"d": {"date_histogram": {
            "field": "s", "calendar_interval": "day"}}})
    # negative terms size: typed (was an AnalysisException limit crash)
    with pytest.raises(DslError, match="size must be\\s+a positive"):
        _aggs(agg_engine, {"t": {"terms": {"field": "g", "size": -1}}})
    # valid shapes still work: a date literal without time, terms size 1
    assert agg_engine.search(
        "aggdocs", '{"query":{"range":{"ts":{"gte":"2024-01-02"}}}}'
    ).count() == 3
    assert len(_aggs(agg_engine,
                     {"t": {"terms": {"field": "g", "size": 1}}})) == 1


def test_numeric_metric_on_complex_field_typed(spark):
    # exec_fuzz catch: stats/avg/sum over an array<struct> column leaked
    # Spark's AnalysisException out of search_aggs
    eng = SearchEngine(spark)
    eng.register(spark.createDataFrame(
        [(1, [("a", 1)])], "id int, tags array<struct<k:string,v:int>>"),
        TableSpec("aggtags", ["id"]))
    for kind in ("avg", "sum", "stats", "extended_stats"):
        q = json.dumps({"query": {"match_all": {}},
                        "aggs": {"m": {kind: {"field": "tags"}}}})
        with pytest.raises(DslError, match="needs a numeric field"):
            eng.search_aggs("aggtags", q).collect()


def test_phrase_prefix_non_text_field_typed(agg_engine):
    # r14.75 fuzz catch: the max_expansions dictionary probe ran the
    # analyzer on a non-text column before compile could reject it
    with pytest.raises(DslError, match="not\\s+a text field"):
        agg_engine.search(
            "aggdocs",
            '{"query":{"match_phrase_prefix":{"x":"1.0"}}}').collect()
