"""The benchmark's workloads: which registered ops each one drives, why it
was chosen, and which layers it loads and which it bypasses.

Each list is sized so that one cold pass plus one warm pass over it fits
the benchmark's run length on a 4-core box.  Ops whose DuckDB oracle alone
takes seconds at this scale (the BFS, keep-best, cluster and
cluster-purity dedup oracles, PageRank) are left out so that the row-count
check stays cheap.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "warehouse_sql": {
        "why": "Many short read-only TPC-H and relational ops: Catalyst "
               "planning and scan/exchange/aggregate execution dominate.",
        "loads": ["jvm.plan", "jvm.exec", "tables"],
        # Two frames are session-shared (one of q9, one of x_agg_mode);
        # nothing else reaches the memo.
        "bypasses": ["pyworker", "sinks", "session_cache (but two frames)"],
        "ops": [
            "x_tpch_q4_order_priority",
            "x_tpch_q6_forecast_revenue",
            "x_tpch_q9_product_type_profit",
            "x_tpch_q12_shipmode_priority",
            "x_tpch_q14_promo_revenue",
            "x_tpch_q19_discounted_revenue",
            "x_join_left",
            "x_join_semi",
            "x_join_range_bucketed",
            "x_join_full_outer",
            "x_agg_mode",
            "x_agg_count_distinct",
            "x_agg_pivot",
            "x_agg_cube",
            "x_agg_median",
            "x_win_rank",
            "x_win_lag_lead",
            "x_win_cohort_revenue",
            "x_win_streaks",
            "x_sub_not_exists_anti",
            "x_sub_scalar_avg",
            "x_set_union",
            "x_set_intersect",
            "x_ts_rolling_zscore",
            "x_ts_hour_of_day_profile",
            "flt_not_null",
            "flt_not_in_list",
            "fn_case_status",
            "fn_tz_convert",
            "fn_json_parse",
            "proj_alias_literal",
            "agg_exists_to_status",
            "lim_page_fetch",
        ],
    },
    "curation_sync": {
        "why": "LLM corpus curation beside the reference's REST sync job: "
               "pair-join exchanges, eager model collects, pandas-UDF and "
               "Python data-source traffic, file and HTTP sinks, and "
               "session-shared frames that the warm pass reuses.",
        "loads": ["operators.build", "jvm.shuffle", "pyworker",
                  "session_cache", "sinks"],
        "bypasses": [],
        "ops": [
            # corpus curation: shingle pair-join, banded MinHash, IVF ANN
            "x_llm_dedup_ngram_jaccard",
            "x_llm_dedup_minhash",
            "x_llm_ann_ivf",
            "x_llm_text_stats",
            "x_llm_token_count",
            "x_llm_lang_id",
            "x_llm_quality_score",
            "x_llm_text_normalize",
            "x_llm_pii_scrub",
            "x_llm_fingerprint",
            "x_llm_tokenizer_fertility",
            "x_llm_chunk_windows",
            "x_llm_sample_stratified",
            "x_llm_embed_quantize",
            "x_mm_record",
            "x_mm_dedup_binary",
            # the sync job: REST source, fan-out, sinks, a micro-batch
            "src_rest_get",
            "exec_sequential",
            "snk_json_records",
            "snk_http_post",
            "snk_parquet_partitioned",
            "x_etl_mask_pii",
            "x_stream_tumbling",
            "flagship_health",
        ],
    },
}

#: The ops that write through a sink: JSON and parquet files, or HTTP posts
#: (the sync fan-out's included).  ``sinks.write_bytes`` sums storage writes
#: over these ops only; the other ops' writes are checkpoints and spills.
WRITERS = frozenset({
    "snk_json_records",
    "snk_http_post",
    "snk_parquet_partitioned",
    "exec_sequential",
})
