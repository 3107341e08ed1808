"""__spark_entry__ contract invariants (cheap, no Spark jobs).

The driver consumes entry()/queries()/oracle_sql() blind — these pin
the structural guarantees it depends on before any engine work runs.
"""

from __future__ import annotations

import duckdb
import pytest

from aws_etl_project2_fiap_spark.io.parquet import STAR_TABLES
from aws_etl_project2_fiap_spark.workload import (
    CATALOG,
    COMPONENTS,
    SUITES,
    oracle_sql,
    ordered_catalog,
    queries,
)


def test_oracle_keys_subset_of_queries():
    q, o = queries(), oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())


def test_first_fifty_are_oracle_backed():
    """The driver hashes positions 1-50; a rows-only entry inside the
    window would waste a hash slot on a weaker check."""
    names = list(ordered_catalog())
    o = oracle_sql()
    assert all(n in o for n in names[:50]), [
        n for n in names[:50] if n not in o
    ]


def test_suite_members_exist_and_are_components():
    for suite, members in SUITES.items():
        assert suite in CATALOG
        for m in members:
            assert m in COMPONENTS, f"{suite} references unknown {m}"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    sorted(
        set(oracle_sql())
        | {n for n, qd in COMPONENTS.items() if qd.oracle is not None}
    ),
)
def test_every_oracle_parses(duck, name):
    """EXPLAIN (never execute): a dialect typo in any oracle — catalog
    or component — fails here in milliseconds instead of erring a
    driver correctness row."""
    sql = (
        oracle_sql().get(name)
        or COMPONENTS[name].oracle
    )
    duck.execute(f"EXPLAIN {sql}")


# the round-11 window: the r11 birth entry
# (text_quality_model_portable — the SGD-trained quality filter's
# engine-portable twin, its training replayed gradient-step-by-step
# by the DuckDB oracle), the five r10 births kept for a second
# driver-green round, and ALL 11 entries the r10 rotation evicted
# rotated back for their continuity re-check; evicted to make room:
# the 6 TPC-H shapes that just took their r10 re-check
# (q4/q12/q13/q14/q15/q22), the 3 r9 births now driver-green twice
# (dedup_index_probe/build_portable, stream_price_alerts_portable),
# and 3 TPC-H retained through r9+r10 (q7/q10/q17) — all still
# oracle-backed in the tail. Pinned so that appending new catalog
# entries can never reorder-and-evict a row mid-round.
_R11_WINDOW = [
    "a1_top5_7day_sum", "text_quality_model_portable",
    "text_bpe_tokens_portable", "text_lm_perplexity",
    "similarity_pairs_lsh_portable", "similarity_ivf_knn_portable",
    "dedup_semantic_portable", "similarity_ivfpq_knn_portable",
    "agg_approx_distinct_portable", "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue", "dedup_ngram_jaccard",
    "event_time_tumbling_1h", "similarity_knn", "text_langid",
    "dedup_simhash_pairs", "sample_stratified", "k_bloom_readback",
    "similarity_knn_quantized", "dedup_minhash_lsh_portable",
    "tpch_q21_waiting_supplier", "k_zorder_readback",
    "k_dv_delete_readback", "k_partition_overwrite_readback",
    "k_cluster_evolution_readback", "k_matview_incremental_readback",
    "k_matview_star_readback", "k_wap_publish_readback",
    "k_table_source_readback", "k_merge_clauses_readback",
    "k_merge_sync_readback", "k_replicate_readback", "dedup_span_exact",
    "k_wap_merge_publish_readback", "k_lakesql_verbs_readback",
    "dedup_cluster_lsh", "stream_neardup_ingest", "a2_count",
    "k_matview_dim_evolution_readback", "join_star_revenue",
    "window_keep_latest", "sessionize_30m", "dedup_exact",
    "multimodal_meta", "dedup_embedding_cosine", "k6_update_readback",
    "p_projection_suite", "suite_subquery", "suite_asof", "suite_text",
]

# the round-12 window: an OPTIMIZATION round — no new oracle-backed
# entries, so the slots go to continuity: all 14 r11 evictions rotate
# back (incl. the three portables last driver-checked r10), the
# longest-unchecked r06 suite family returns (last driver-checked r6),
# the r11 births stay for a second round, and every query the r12
# optimization touched (the eight hint-drop sites + the LM rewrite)
# sits in-window so the round's own changes take driver-grade hash
# checks. Evicted to the tail: the five r10 births (green twice), the
# eleven r11 rotate-backs that just re-passed, and eleven lakehouse
# k_* readbacks green r8-r11 (family represented by k_lakesql_verbs /
# k6_update / k_matview_dim_evolution). Pinned so appending catalog
# entries can never reorder-and-evict a row mid-round.
_R12_WINDOW = [
    "a1_top5_7day_sum", "text_quality_model_portable",
    "text_bpe_tokens_portable", "text_lm_perplexity",
    "tpch_q4_order_priority", "tpch_q12_priority_class",
    "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q22_global_sales",
    "dedup_index_probe_portable", "dedup_index_build_portable",
    "stream_price_alerts_portable", "tpch_q7_nation_volume",
    "tpch_q10_returned_items", "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders", "tpch_q19_discounted_revenue",
    "suite_proj_orders", "suite_proj_customer", "suite_proj_events",
    "suite_setops", "suite_agg_grouping", "suite_window_frames",
    "suite_window_rank", "suite_join_outer", "suite_corpus_ops",
    "o1_topk", "o2_ordered_scan", "p6_arith_projection",
    "join_star_revenue", "tpch_q5_regional_revenue",
    "tpch_q21_waiting_supplier", "a2_count",
    "k_matview_dim_evolution_readback", "k_lakesql_verbs_readback",
    "k6_update_readback", "window_keep_latest", "sessionize_30m",
    "dedup_exact", "multimodal_meta", "dedup_embedding_cosine",
    "dedup_span_exact", "dedup_minhash_lsh_portable",
    "dedup_cluster_lsh", "stream_neardup_ingest",
    "p_projection_suite", "suite_subquery", "suite_asof", "suite_text",
]

# the round-13 window: an OPTIMIZATION round — no new oracle-backed
# entries, so the slots go to: all 26 r12 evictions rotate back for
# continuity re-checks (incl. similarity_pairs_lsh_portable — the
# VERDICT r12 #3/#4 must-in, whose scoring kernel was rewritten r12
# and restructured r13 without yet taking a driver hash check), plus
# every r13-touched/affected oracle-backed query (the LSH kernel's
# consumers, the ratchet portable, the lakesql verbs readback, five
# TPC-H join shapes covering the AQE SMJ→SHJ conf), plus the family
# sentinels. Evicted: the r11 births (green 2-3 rounds), the eleven
# r11 rotate-backs that re-passed r12, the r06 suite family that just
# re-checked. Pinned so appending catalog entries can never
# reorder-and-evict a row mid-round. text_lm_perplexity has since
# taken a2_count's slot (its model frames became Arrow local
# relations), leaving every rotation property below intact.
_R13_WINDOW = [
    "a1_top5_7day_sum",
    "similarity_pairs_lsh_portable", "similarity_ivf_knn_portable",
    "dedup_semantic_portable", "similarity_ivfpq_knn_portable",
    "agg_approx_distinct_portable", "tpch_q3_shipping_priority",
    "dedup_ngram_jaccard", "event_time_tumbling_1h",
    "similarity_knn", "text_langid", "dedup_simhash_pairs",
    "sample_stratified", "k_bloom_readback", "similarity_knn_quantized",
    "k_zorder_readback", "k_dv_delete_readback",
    "k_partition_overwrite_readback", "k_cluster_evolution_readback",
    "k_matview_incremental_readback", "k_matview_star_readback",
    "k_wap_publish_readback", "k_table_source_readback",
    "k_merge_clauses_readback", "k_merge_sync_readback",
    "k_replicate_readback", "k_wap_merge_publish_readback",
    "dedup_embedding_cosine", "stream_price_alerts_portable",
    "k_lakesql_verbs_readback", "join_star_revenue",
    "tpch_q5_regional_revenue", "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier", "tpch_q10_returned_items",
    "dedup_cluster_lsh", "stream_neardup_ingest",
    "text_lm_perplexity", "k_matview_dim_evolution_readback",
    "k6_update_readback", "window_keep_latest", "sessionize_30m",
    "dedup_exact", "multimodal_meta", "dedup_span_exact",
    "dedup_minhash_lsh_portable",
    "p_projection_suite", "suite_subquery", "suite_asof", "suite_text",
]

# every oracle-backed catalog name at the moment the r12 window was
# rotated (98 entries = the r11 snapshot + the two entries
# oracle-backed after the r11 rotation: text_bpe_tokens_portable and
# text_lm_perplexity; round 12 added no new oracle-backed entries).
# Entries oracle-backed after THIS rotation must NOT be added here, or
# the set-diff would stop enforcing their window membership. The
# birth-entry policy below is a set-diff against this snapshot, so it
# covers ANY entry oracle-backed after the rotation regardless of
# registration order — no per-round hardcoded "new entries" list to
# forget updating.
_ORACLE_BACKED_AT_R12_ROTATION = frozenset(
    [
        "text_bpe_tokens_portable", "text_lm_perplexity",
    ]
) | frozenset([
    "a1_top5_7day_sum", "a2_count", "agg_approx_distinct_portable",
    "agg_count_distinct", "agg_having", "agg_percentiles",
    "agg_pivot", "agg_pricing_summary", "corpus_select",
    "corpus_shard_export", "dedup_cluster_assign",
    "dedup_cluster_lsh", "dedup_embedding_cosine", "dedup_exact",
    "dedup_fuzzy_levenshtein", "dedup_index_build_portable",
    "dedup_index_probe_portable", "dedup_keep_latest",
    "dedup_minhash_lsh_portable", "dedup_ngram_jaccard",
    "dedup_semantic_portable", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_span_exact", "event_time_tumbling_1h",
    "explode_token_topk", "join_anti", "join_left_count",
    "join_range_binned", "join_semi", "join_star_revenue",
    "k6_update_readback", "k_bloom_readback",
    "k_cluster_evolution_readback", "k_dv_delete_readback",
    "k_lakesql_verbs_readback", "k_matview_dim_evolution_readback",
    "k_matview_incremental_readback", "k_matview_star_readback",
    "k_merge_clauses_readback", "k_merge_sync_readback",
    "k_partition_overwrite_readback", "k_replicate_readback",
    "k_table_source_readback", "k_wap_merge_publish_readback",
    "k_wap_publish_readback", "k_zorder_readback", "multimodal_meta",
    "o1_topk", "o2_ordered_scan", "p6_arith_projection",
    "p_projection_suite", "sample_stratified",
    "session_window_native", "sessionize_30m",
    "similarity_ivf_knn_portable", "similarity_ivfpq_knn_portable",
    "similarity_knn", "similarity_knn_quantized",
    "similarity_pairs_exact", "similarity_pairs_lsh_portable",
    "stream_neardup_ingest", "stream_price_alerts_portable",
    "stream_stats_by_key", "suite_agg_grouping", "suite_asof",
    "suite_corpus_ops", "suite_join_outer", "suite_proj_customer",
    "suite_proj_events", "suite_proj_orders", "suite_setops",
    "suite_subquery", "suite_text", "suite_window_frames",
    "suite_window_rank", "text_langid", "text_quality_model_portable",
    "text_rolling_chunks", "text_tfidf_topk",
    "tpch_q10_returned_items", "tpch_q12_priority_class",
    "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders", "tpch_q19_discounted_revenue",
    "tpch_q21_waiting_supplier", "tpch_q22_global_sales",
    "tpch_q3_shipping_priority", "tpch_q4_order_priority",
    "tpch_q5_regional_revenue", "tpch_q7_nation_volume",
    "window_keep_latest", "window_top3_per_cust"
])

# the r3-r6 window, kept to prove the rotation actually rotated
_R3_GREEN_WINDOW = [
    "a1_top5_7day_sum", "p6_arith_projection", "a2_count", "o1_topk",
    "o2_ordered_scan", "agg_pricing_summary", "agg_count_distinct",
    "agg_having", "agg_pivot", "agg_percentiles", "join_star_revenue",
    "join_left_count", "join_semi", "join_anti", "window_keep_latest",
    "window_top3_per_cust", "sessionize_30m", "event_time_tumbling_1h",
    "join_range_binned", "p_projection_suite", "session_window_native",
    "stream_stats_by_key", "dedup_exact", "dedup_keep_latest",
    "dedup_ngram_jaccard", "text_langid", "similarity_knn",
    "similarity_pairs_exact", "multimodal_meta", "corpus_select",
    "tpch_q3_shipping_priority", "tpch_q5_regional_revenue",
    "dedup_embedding_cosine", "explode_token_topk", "text_tfidf_topk",
    "dedup_fuzzy_levenshtein", "dedup_cluster_assign",
    "k6_update_readback", "suite_proj_orders", "suite_proj_customer",
    "suite_proj_events", "suite_setops", "suite_agg_grouping",
    "suite_join_outer", "suite_window_frames", "suite_window_rank",
    "suite_subquery", "suite_asof", "suite_corpus_ops", "suite_text",
]


def test_driver_window_order_is_pinned():
    """Positions 1-50 of queries() must stay EXACTLY the pinned r13
    window, in order: the driver hash-compares by position, so any
    reorder (e.g. registering a new oracle-backed query before the
    suites) silently evicts a row mid-round."""
    assert list(ordered_catalog())[:50] == _R13_WINDOW


def test_new_oracle_backed_entries_enter_window_at_birth():
    """Birth-entry policy, generalized (VERDICT r8 #7): every entry
    that becomes oracle-backed AFTER the r12 rotation snapshot must be
    rotated into the driver window in the same round it lands —
    otherwise it would ship without ever taking a driver-grade hash
    check. Registration order is irrelevant: this is a set-diff
    against the frozen snapshot, so it can't be satisfied by
    forgetting to update a hardcoded 'new this round' list."""
    current = set(oracle_sql())
    window = set(list(ordered_catalog())[:50])
    born_after_rotation = current - _ORACLE_BACKED_AT_R12_ROTATION
    assert born_after_rotation <= window, sorted(
        born_after_rotation - window
    )
    # the snapshot itself can only shrink if an oracle was genuinely
    # removed — flag silent demotions to rows-only
    demoted = _ORACLE_BACKED_AT_R12_ROTATION - current
    assert not demoted, sorted(demoted)


def test_window_rotation_properties():
    """Rotation hygiene (r13): every r12 eviction rotates back for its
    continuity re-check (similarity_pairs_lsh_portable among them —
    VERDICT r12 #3/#4), every query the r13 optimization touched or
    affected is in-window, and everything ever evicted stays
    oracle-backed in the tail."""
    # ALL 26 r12 evictions rotated back for their continuity re-check
    r12_evictions = {n for n in _R11_WINDOW if n not in _R12_WINDOW}
    assert len(r12_evictions) == 26, sorted(r12_evictions)
    assert r12_evictions <= set(_R13_WINDOW), sorted(
        r12_evictions - set(_R13_WINDOW)
    )
    # the VERDICT r12 #4 must-ins
    assert {
        "similarity_pairs_lsh_portable", "dedup_embedding_cosine",
    } <= set(_R13_WINDOW)
    # every query the r13 optimization touched/affected takes a check:
    # LSH-kernel consumers, the ratchet portable, the lakesql verbs
    # readback, the SMJ→SHJ-conf TPC-H joins
    assert {
        "dedup_embedding_cosine", "stream_price_alerts_portable",
        "k_lakesql_verbs_readback", "join_star_revenue",
        "tpch_q5_regional_revenue", "tpch_q18_large_orders",
        "tpch_q21_waiting_supplier", "tpch_q10_returned_items",
    } <= set(_R13_WINDOW)
    # the window actually rotated, and every r13 eviction stays
    # oracle-backed in the tail
    cat, o = list(ordered_catalog()), oracle_sql()
    evicted_r13 = [n for n in _R12_WINDOW if n not in _R13_WINDOW]
    assert len(evicted_r13) >= 20, evicted_r13
    for n in evicted_r13:
        assert n in cat and n in o, n
    for n in [n for n in _R3_GREEN_WINDOW if n not in _R13_WINDOW]:
        assert n in cat and n in o, n
    for n in [n for n in _R11_WINDOW if n not in _R13_WINDOW]:
        assert n in cat and n in o, n


# the r11 evictions as pinned by the r11 rotation test — kept as data
# so the r12 continuity assertion above can't drift from what was
# actually evicted
_R11_WINDOW_EVICTIONS = [
    "tpch_q4_order_priority", "tpch_q12_priority_class",
    "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q22_global_sales",
    "dedup_index_probe_portable", "dedup_index_build_portable",
    "stream_price_alerts_portable", "tpch_q7_nation_volume",
    "tpch_q10_returned_items", "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders", "tpch_q19_discounted_revenue",
]
