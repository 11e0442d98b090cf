#!/usr/bin/env python3
"""Regenerate EXPLAIN.md: `.explain("formatted")` for the headline
queries (``HEADLINE``) plus the composed flagships, at sf0.001 (plan
shapes are scale-invariant). Run from anywhere; writes EXPLAIN.md at
the repo root. The one-line annotations describe the plan property each
query is expected to keep (pinned mechanically in tests/test_plans.py).
"""

from __future__ import annotations

import io
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

SF_DIR = "/root/testdata/sf0.001"

# the 27 headline queries, in the order EXPLAIN.md lists them
HEADLINE = (
    "agg_daily_type_counts",
    "ann_cosine_topk",
    "ann_ivf_search",
    "ann_knn_per_label",
    "cluster_geo_pipeline_cellgrid",
    "cur_full_pipeline",
    "dedup_duplicate_groups",
    "dedup_jaccard_pairs",
    "dedup_semdedup_profile",
    "emb_encode_profile",
    "graph_bfs_hops",
    "join_asof_purchase_click",
    "loc_fallback_resolution",
    "rel_keyword_extraction",
    "samp_neyman_allocation",
    "search_bm25_topk",
    "stream_surveillance_e2e",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "ts_holt_winters",
    "txt_chunk_boilerplate",
    "txt_langid_trigram",
    "txt_sentence_segmentation_profile",
    "txt_zipf_profile",
    "win_anomaly_zscore",
    "win_global_rank_ranged",
)

# per-query plan-property annotations (kept with the generator so a
# regenerated file never loses them)
NOTES = {
    "agg_daily_type_counts": "partial agg -> single exchange on tiny key space",
    "tpch_q1_pricing_summary": "pushed shipdate filter; partial agg; one exchange",
    "tpch_q3_shipping_priority": "filters pushed to all three scans; dim broadcast; TakeOrdered top-k",
    "tpch_q5_regional_revenue": "chained broadcasts; single fact shuffle",
    "join_asof_purchase_click": "union + last-ignoreNulls window: ONE shuffle on user_id, no broadcast needed",
    "ann_cosine_topk": "scan + TakeOrderedAndProject: k rows per partition, no shuffle of the corpus",
    "ann_knn_per_label": "per-cell GEMM applyInPandas; salted block join",
    "dedup_jaccard_pairs": "blocked self-join (source, len-bucket) — never all-pairs",
    "emb_encode_profile": "one ArrowEvalPython (mapInPandas) pass + tiny-key agg",
    "loc_fallback_resolution": "4 chained broadcasts incl. bbox BroadcastNestedLoop; the only exchange is the round-robin scan rebalance (single-row-group input), never a key shuffle",
    "rel_keyword_extraction": "pure column expressions — whole-stage codegen, no Python",
    "txt_langid_trigram": "map-side-combine partials over exploded trigrams",
    "win_anomaly_zscore": "daily rollup exchange, then expanding window on the same partitioning",
    "cluster_geo_pipeline": "broadcast bbox join -> eps-grid equi-join edges -> label-propagation joins",
    "stream_click_abandonment": "stream-stream outer join: state bounded by watermark + interval condition",
    "txt_chunk_boilerplate": "explode -> partial-agg chunk support -> equi-join flag (AQE broadcast) -> per-doc rebuild; no nested loop anywhere",
    "win_global_rank_ranged": "bucket counts -> tiny single-partition prefix sum -> broadcast offsets + per-bucket window; the events never see a global ORDER BY",
    "cur_decontaminate_spans": "positional shingles -> broadcast benchmark set -> covered-position islands window -> anti-join rebuild",
    "search_rm3_expansion": "two ranked-retrieval passes over one postings explode; feedback docs and expansion terms are k-row broadcasts",
    "geo_geohash_rollup": "closed-form integer encode in one codegen stage; single cell-key exchange; TakeOrdered top-20",
    "attr_multi_touch": "user-keyed range join, per-purchase window ranks, credit explode; exact integer micro-cents",
    # round-5 additions
    "ann_ivf_search": "reads the prebuilt memoized centroid index (never re-derives); nprobe cell filter prunes the scan",
    "cur_full_pipeline": "one composed DAG: filters/dedup/caps chained without intermediate materialization",
    "dedup_duplicate_groups": "blocked pair edges built once (checkpointed); per-iteration join + map-side-combined min-label agg",
    "dedup_semdedup_profile": "k-means assignment bounds candidates; cosine pairs only within clusters (per-cluster chunked-GEMM applyInPandas kernel) — never corpus x corpus",
    "graph_bfs_hops": "cached edge build; node-sized frontier per hop with lineage truncation",
    "search_bm25_topk": "postings explode; corpus stats ride as 1-row broadcast; TakeOrdered top-k",
    "stream_surveillance_e2e": "stateless map-side stages + LocalRelation broadcast dims; one tiny complete-mode aggregate",
    "ts_holt_winters": "per-series applyInPandas after a daily rollup — state is seasons-sized, not corpus-sized",
    "dedup_prefix_jaccard": "distinct-set collapse to 64-bit masks; prefix-filter candidate equi-join; popcount verify; 1-row stats out",
    "dedup_minhash_md5": "same mask collapse; md5 band signatures; band equi-join candidates; 1-row stats out",
    "tok_bpe_merges": "per-iteration pair-count partial agg + 1-row argmax broadcast + array-fold merge; corpus never moves",
    "mm_decode_real_headers": "mapInPandas build + mapInPandas stdlib parse — two Arrow stages, no shuffle",
    # round-11 plan-shape flagships
    "agg_rfm_segments": "three bucketed global ranks (control-plane offsets, broadcast literal dims) + integer-div NTILE; zero unpartitioned windows, one pinned exchange",
    "emb_pq_adc_search": "ONE scan of the shared checkpointed projection; codes + ADC lookups fused into a literal when-chain projection; 0 joins, 0 exchanges, TakeOrderedAndProject",
    "win_theta_sketch_partial": "sketch summary + retained samples are bounded BY CONSTRUCTION -> control plane once; pairwise set-difference over literal dims, 2 exchanges",
    "sketch_bloom_join_prune": "filter words collected once (128 longs); probes test bits map-side against a literal array; merge-equals-direct pinned",
    "cur_contamination_ngram_overlap": "gram hashes (8-byte keys) shuffle, never strings; benchmark side stays a shuffled equi-join (corpus-proportional, never broadcast); 5-key profile agg",
    # round-12 flagships
    "samp_neyman_allocation": "ONE map-side-combinable strata aggregate (count/sum/sum-of-squares); allocation entirely on the checkpointed sources frame — 1-row broadcast crossJoins + allowlisted strata-sized rank",
    "txt_sentence_segmentation_profile": "text column read ONCE; (lang x length) histogram partial-agg; cumsum windows PARTITIONED by lang over the bounded histogram frame; n_docs branch scans only the pruned lang column",
    "samp_systematic_interval": "deviate bucketing (<= 2^16 uniform ranges by construction) -> control-plane offsets -> per-bucket window; stride rides as the device's total_col — no extra join, no global window",
    "cur_dedup_aware_mixing": "keep-flag window partitioned by md5(text) (shuffle carries the 32-char hash, not the text); sources-frame fold; largest-remainder allocation on the dim only",
    "samp_poisson_pps": "membership is a map-side DECIMAL(38,0) predicate against the 1-row broadcast grand total; HT numerator folds in the same single groupBy — no float pi exists anywhere in the plan",
    "txt_vocab_growth_profile": "10 nested corpus prefixes in ONE explode pass: per-token min-decile histogram + cumsum over the (lang x 10) spine; every window partitioned by lang over a 10-row frame",
}


def main() -> None:
    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.session import get_spark

    spark = get_spark("gen-explain")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    extras = [
        "cluster_geo_pipeline",
        # round-4 flagships
        "txt_chunk_boilerplate",
        "win_global_rank_ranged",
        "cur_decontaminate_spans",
        "search_rm3_expansion",
        "geo_geohash_rollup",
        "attr_multi_touch",
        # round-5 flagships
        "dedup_prefix_jaccard",
        "dedup_minhash_md5",
        "tok_bpe_merges",
        "mm_decode_real_headers",
        # round-11 plan-shape flagships (the r10 verdict's two weak
        # entries after their rewrites, plus the new bounded-summary
        # sketches and the decontamination join)
        "agg_rfm_segments",
        "emb_pq_adc_search",
        "win_theta_sketch_partial",
        "sketch_bloom_join_prune",
        "cur_contamination_ngram_overlap",
        # round-12 flagships (sampling design + doc structure)
        "samp_neyman_allocation",
        "txt_sentence_segmentation_profile",
        "samp_systematic_interval",
        "cur_dedup_aware_mixing",
        "samp_poisson_pps",
        "txt_vocab_growth_profile",
    ]
    names = list(HEADLINE) + [n for n in extras if n not in HEADLINE]

    out = io.StringIO()
    out.write(
        "# EXPLAIN — physical plans of the headline queries\n\n"
        'Generated by tools/gen_explain.py (`.explain("formatted")` at '
        "sf0.001;\nplan shapes are scale-invariant). See SCALE.md for why "
        "each survives\n100 TB and tests/test_plans.py for the assertions "
        "that pin them.\n"
    )
    for name in names:
        df = specs[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        note = NOTES.get(name, "")
        out.write(f"\n## {name}\n")
        if note:
            out.write(f"*{note}*\n")
        out.write(f"\n```\n{plan}```\n")

    with open(os.path.join(REPO_DIR, "EXPLAIN.md"), "w") as fh:
        fh.write(out.getvalue())
    print(f"wrote EXPLAIN.md ({len(names)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
