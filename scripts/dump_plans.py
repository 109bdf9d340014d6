"""Regenerate PLANS.md: trimmed formatted physical plans for the
headline queries — the plan-quality evidence (pushdown, pruning, join
strategy, codegen) at a glance.

Usage: python scripts/dump_plans.py [sf_dir [query ...]]

With query names, print each one's full ``explain("formatted")`` to
stdout instead of writing PLANS.md.

FLAT=1 patches DataFrame.localCheckpoint / checkpoint to identity
BEFORE building, so subtrees that normally hide inside a
lazy-checkpoint LogicalRDD (e.g. the ppjoin candidate join) appear in
the plan. Display only — the shipped queries keep their checkpoints.
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWN = [
    "g1_pricing_summary",
    "j6_multiway_revenue",
    "j8_asof_click_attribution",
    "j9_range_join_bands",
    "a3_rmse_item_mean",
    "w1_topk_per_user",
    "o2_topk_limit",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
    "text_winnowing",
    "ev_sessionize",
    "ev_rollup_merge",
    "curation_pii_redact",
    "curation_contamination",
    "curation_pack",
    "text_repetition",
    # round 5
    "jsonl_quarantine",
    "ann_recall_matrix",
    "mm_decode_features",
    "text_chunking",
    "curation_domain_mix",
    "g12_hist_quantiles",
    # round 5 continuation
    "text_span_dedup",
    "text_vocab_build",
    "graph_pagerank",
    "fuzzy_match_suppliers",
    "cf_negative_sample",
    "text_diversity",
    "sketch_hll_distinct",
    "stats_chi2_lang_source",
    "curation_quality_percentile",
    "ev_transitions",
    "emb_label_centroids",
    "sample_group_topk",
    "text_bpe_pairs",
    "text_span_removal",
    "graph_ppr_seeded",
    "dedup_containment",
    # round 5, second continuation
    "curation_url_canonical",
    "text_oov_rate",
    "graph_triangles",
    "stats_mad_outliers",
    "dedup_recall_matrix",
    # round 5, third continuation
    "lex_bm25_topk",
    "curation_contamination_semantic",
    "curation_temperature_mix",
    "stats_skew_profile",
    "stats_profile_orders",
    "stats_entropy_sources",
    "stats_bootstrap_ci",
    "text_encoding_quality",
    "cf_ndcg_popularity",
    # round 5, fourth continuation
    "ml_nb_confusion",
    "text_lm_perplexity",
    "text_html_extract",
    "ev_hopping_agg",
    "ev_anomaly",
    "stats_daily_trend",
    # round 5, fifth continuation
    "lex_trigram_search",
    "skyline_parts",
    "ev_concurrency",
    "agg_incremental_view",
    "j10_multitouch_attribution",
    "ev_retention_daily",
    "stats_cov_matrix",
    "ev_rolling_7d",
    "ev_rolling_distinct",
    "j11_nation_volume",
    "fw_ingest",
    "graph_modularity_brand",
    "ann_maxsim_topk",
    "ml_nb_reliability",
    "ev_streaks",
    "curation_k_anonymity",
    "ann_filtered_topk",
    "sample_epoch_shuffle",
    # round 5, sixth continuation
    "j12_min_cost_supplier",
    "g13_important_parts",
    "j13_top_revenue_supplier",
    "sub4_dormant_customers",
    "g14_custdist",
    "g15_supplier_cnt",
    "j14_local_supplier_volume",
    "g16_profit_by_nation_year",
    "o3_returned_item_customers",
    "g17_small_quantity_revenue",
    "j15_large_volume_orders",
    "g18_disjunctive_revenue",
    "sketch_bottomk_quantiles",
    "sketch_kmv_overlap",
    "ml_nb_auc",
    "stats_expectations",
    "mm_frame_sample",
    "dedup_ppjoin",
    # round 7
    "sub5_promotion_suppliers",
    "j16_waiting_suppliers",
    "cf_ndcg_itemknn_sub",
    "ml_nb_f1",
    "mm_audio_resample",
    "mm_audio_vad",
    # r7 continuation: ACID lake write path + the T.81 JPEG decode chain
    "lake_txn_merge",
    "lake_txn_changes",
    "mm_jpeg_features",
    "mm_image_neardup",
    "mm_audio_neardup",
    "mm_video_frame_sample",
    "stats_broadcast_advice",
    "sketch_kmv_overlap",
    "sketch_bottomk_quantiles",
    "ml_nb_auc",
    "g15_supplier_cnt",
    "g20_market_share",
    "stats_expectations",
    # r6: the end-to-end corpus assembly composition
    "pipeline_corpus_assembly",
    # r7 continuation 2: partitioned lake + multi-table catalog. The
    # partition read plan is the evidence that re-attachment is
    # JOIN-FREE in the pruned case: per-group scans with literal
    # partition columns, unioned — no exchange, no broadcast build.
    "lake_txn_partition",
    "lake_txn_multi",
    # r7 continuation 2: the native data source (PythonScan with the
    # file list already pruned by pushFilters) and the two
    # training-data assembly shapes
    "lake_txn_datasource",
    "cf_preference_pairs",
    "sft_chat_assembly",
    # r7 continuation 3: column mapping (read = rename-project over the
    # same pruned scan — no join, no extra exchange), generated-column
    # derived pruning (partition-pruned scan from a raw-ts predicate),
    # log-arithmetic COUNT(*), and the token-window chunker (map-only,
    # zero exchanges)
    "lake_column_mapping",
    "lake_generated_cols",
    "text_chunking_tokens",
    "lake_type_widening",
    # r8
    "lake_delta_interop",
    "avro_ingest",
    # r9
    "dedup_ppjoin_zipf",
    "avro_evolution",
    "orc_ingest",
    "iceberg_appends",
]

HEADER = """# PLANS — physical-plan evidence (auto-generated)

`python scripts/dump_plans.py` regenerates this file. For each headline
query: the operator tree of `.explain("formatted")` (details trimmed)
plus the scan lines showing predicate pushdown (`PushedFilters`) and
column pruning (`ReadSchema`). Things to notice:

- filters reach the parquet scans; ReadSchema carries only used columns
- small sides broadcast (BroadcastHashJoin); global top-k runs as
  TakeOrderedAndProject (no full sort)
- the as-of join is ONE window over a union (no range explosion)
- dedup/winnowing plans show NO per-shingle joins — row-local arrays,
  exchanges only on doc ids / small integer band keys
"""


def main() -> None:
    from spark_cassandra_collabfiltering_spark.plans.queries import QUERIES
    from spark_cassandra_collabfiltering_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("FLAT"):
        # patch the CLASSIC class — pyspark.sql.DataFrame is the
        # abstract base in Spark 4 and sessions hand out the classic
        # subclass, whose own method would shadow a base-class patch
        from pyspark.sql.classic.dataframe import DataFrame

        DataFrame.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
        DataFrame.checkpoint = lambda self, eager=True: self  # type: ignore[method-assign]
    if names:
        for name in names:
            print(f"## {name}\n")
            QUERIES[name].builder(spark, sf_dir).explain("formatted")
        return
    out = [HEADER]
    for name in SHOWN:
        df = QUERIES[name].builder(spark, sf_dir)
        buf = io.StringIO()
        stdout = sys.stdout
        sys.stdout = buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        plan = buf.getvalue()
        tree = plan.split("\n\n", 1)[0]
        # keep the interesting scan facts
        scans = re.findall(
            r"PushedFilters: \[[^\]]*\]|ReadSchema: struct<[^>]*>", plan
        )
        out.append(f"\n## {name}\n\n```\n{tree}\n")
        seen = set()
        for s in scans:
            if s not in seen:
                seen.add(s)
                out.append(s[:200] + "\n")
        out.append("```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
