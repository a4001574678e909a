"""The registry's key order is part of the driver contract.

The driver grades only the first 50 entries of ``queries()``, so the
order is pinned here: the grading window (a literal copy, in order),
then every other oracle-bearing entry, then the rows-only entries in
the order their ``@_q`` decorators appear in ``entry_queries.py``.
A window rotation edits the literal below together with
``entry_queries._GRADING_WINDOW``.
"""

import ast
import inspect

from iceberg_geospatial_api_server_spark import entry_queries

import __spark_entry__ as E

WINDOW = [
    "top3_orders_per_priority",
    "asof_join_events_orders",
    "q4_order_priority",
    "q10_returned_items",
    "q12_shipmode_priority",
    "q14_promo_revenue",
    "q18_large_volume",
    "q19_disjunctive",
    "events_approx_contract",
    "q6_forecast_revenue",
    "geo_line_join_parity",
    "dedup_exact",
    "dedup_recall_contract",
    "text_ngram_topk",
    "doc_length_histogram",
    "ann_bruteforce_topk",
    "ann_ivf_incremental",
    "ann_ivfpq_incremental",
    "ann_filtered_topk",
    "ann_ivfpq_exhaustive",
    "ann_ivf_exhaustive",
    "ann_lsh_exhaustive",
    "ann_recall_contract",
    "q7_volume_shipping",
    "q8_market_share",
    "q13_customer_distribution",
    "q17_small_qty_revenue",
    "corpus_bpe_merges",
    "dedup_cluster_assign",
    "dedup_minhash_stats",
    "events_outliers_mad",
    "doc_chunks",
    "corpus_clean",
    "embed_kmeans_stats",
    "sample_per_lang",
    "dedup_simhash_stats",
    "corpus_segment_dedup",
    "text_dup_spans",
    "corpus_curate",
    "events_funnel",
    "events_props_stats",
    "embed_quantize_int8",
    "corpus_source_stats",
    "events_distinct_salted",
    "events_hll_contract",
    "mm_phash_parity",
    "corpus_epoch_order",
    "graph_triangles",
    "graph_common_neighbors",
    "events_cusum",
]


def _registration_order():
    """Entry names in the order their ``@_q(...)`` decorators appear."""
    tree = ast.parse(inspect.getsource(entry_queries))
    return [
        d.args[0].value
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        for d in node.decorator_list
        if isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "_q"
    ]


def test_window_is_pinned():
    assert list(E.queries())[:50] == WINDOW


def test_window_is_all_oracle_bearing():
    oracles = E.oracle_sql()
    assert [n for n in WINDOW if n not in oracles] == []


def test_three_bands_rows_only_in_registration_order():
    names = list(E.queries())
    oracles = E.oracle_sql()
    n_oracled = len(oracles)
    # window, then the other oracled entries, then rows-only
    assert all(n in oracles for n in names[:n_oracled])
    rows_only = names[n_oracled:]
    assert rows_only == [
        n for n in _registration_order() if n not in oracles
    ]


def test_jump_queue_is_inside_the_window():
    assert entry_queries._JUMP_QUEUE <= entry_queries._GRADING_WINDOW


def test_oracled_band_after_window_in_registration_order():
    names = list(E.queries())
    oracles = E.oracle_sql()
    assert names[50 : len(oracles)] == [
        n
        for n in _registration_order()
        if n in oracles and n not in entry_queries._GRADING_WINDOW
    ]
