#!/usr/bin/env python
"""Dump .explain("formatted") for every bench case (and a few extra
registry queries of interest) to plans/r11/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> [name ...]
  tag:   suffix for the artifact files (before / after)
  name:  optional subset of case names; default = all bench cases plus
         EXTRA_QUERIES below.

The session is built exactly like bench.py's so the committed plans
describe the benched plans (same confs, same cached tables).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

# registry names the optimization round touches beyond the bench set
EXTRA_QUERIES = [
    "part_affinity_pairs",
    "dedup_minhash_lsh",
    "mm_jpeg_decode_ac",
    "text_bpe_pair_stats",
    "sim_mmr_diversified_topk",
    "events_bootstrap_se",
    "monitor_ab_cuped",
    "dedup_graph_triangles",
    "events_peak_concurrency",
    "events_interrupted_series",
    "dedup_cluster_representatives",
    "monitor_layout_pruning",
    "dedup_minhash_calibration",
    "dedup_lsh_precision_recall",
    "sim_pca_power_iteration",
    "monitor_value_drift_psi",
    "sim_ann_nprobe_sweep",
    "monitor_value_drift_ks",
    "monitor_lang_chisq",
    "sample_temperature_mix",
    "pipeline_prepare_corpus_v2",
    "sketch_join_cardinality",
    "dedup_incremental_minhash",
    "text_bigram_logprob",
    "text_bigram_kneser_ney",
    "text_novelty_rate",
    "text_chunk_overlap",
    "text_fingerprints",
    "mm_frame_sample",
    "sample_importance_dsir",
    "sim_rrf_hybrid",
    "text_keyword_search",
    "text_bm25_topk",
    "dedup_cdc_chunks",
    "text_heavy_hitters_cms",
    "sim_intrinsic_dim",
    "dedup_remove_boilerplate",
    "events_rate_limit_audit",
    # r11 similarity-family norm-precompute pass
    "dedup_semantic",
    "sim_ann_recall",
    "sample_kcenter_coreset",
    "sim_ann_pq",
    "sim_ann_ivfadc",
    "sim_ann_ivf_kmeans",
    "sim_kmeans_cluster_stats",
    "sim_embedding_neardup",
    "sim_ann_lsh",
    "sim_ann_filtered",
    "sim_ann_lsh_multiprobe",
    "sim_ivf_incremental_add",
    "sim_lsh_buckets",
    # r11 explode-index n-gram/chunk/window builds
    "dedup_chunks",
    "dedup_duplicated_spans",
    # r12 rewrites
    "pipeline_selection_frontier",
    "tpch_promo_share",
    "cube_status_priority",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = bench.build_session()
    cases = bench.build_cases(spark)
    from multisql_spark.plans import formatted_plan
    from multisql_spark.queries import load_all

    registry = load_all()
    for qname in EXTRA_QUERIES:
        if qname in registry and qname not in cases:
            cases[qname] = registry[qname].fn(spark, bench.SF_DIR)
    for name, df in cases.items():
        if only and name not in only:
            continue
        plan = formatted_plan(df)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
