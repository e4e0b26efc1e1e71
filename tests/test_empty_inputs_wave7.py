"""Empty-corpus robustness for every round-5-continuation query: a
completely empty (but correctly-typed) testdata directory must yield
an empty or degenerate result — never an ANSI abort, NaN poison, or
Python exception.  (The round-4 robustness campaign pinned this class
for the older registry; this extends it to the new surface.)"""

from __future__ import annotations

import pytest

from prometheus_anomaly_detection_lstm_spark.registry import all_queries

NEW_QUERIES = [
    "metric_cusum_anomalies",
    "metric_theil_sen_trend",
    "text_char_entropy",
    "corpus_zipf_fit",
    "events_funnel_timing",
    "events_heavy_hitters",
    "corpus_source_token_drift",
    "promql_lang_rate_sum",
    "promql_lang_topk_gauge",
    "promql_lang_increase_filter",
    "promql_lang_error_ratio",
    "promql_lang_histogram_quantile",
    "promql_lang_quantile_over_time",
    "promql_lang_label_replace",
    "metric_matrix_profile",
    "text_nb_confusion",
    "parts_abc_by_brand",
    "shipping_delay_profile",
    "events_markov_next_eval",
    "text_readability_scores",
]

_SCHEMAS = {
    "events": (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id long, text string, lang string, source string, n_chars long",
    "lineitem": (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    ),
    "orders": (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string"
    ),
    "part": (
        "p_partkey long, p_name string, p_mfgr string, p_brand string, "
        "p_type string, p_size int, p_container string, p_retailprice double, "
        "p_comment string"
    ),
}


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    for name, schema in _SCHEMAS.items():
        spark.createDataFrame([], schema).write.parquet(
            str(root / f"{name}.parquet")
        )
    return str(root)


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_new_query_survives_empty_corpus(spark, empty_sf, name):
    fn, _ = all_queries()[name]
    rows = fn(spark, empty_sf).collect()
    # empty input -> empty result, or a single all-degenerate summary
    # row (global aggregates); never an exception
    assert len(rows) <= 3
    for r in rows:
        d = r.asDict()
        # any counts present must be zero on an empty corpus
        for k, v in d.items():
            if k.startswith(("n_", "cnt")) and v is not None:
                assert v == 0, (name, k, v)
