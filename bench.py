#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
Without SPARK_GRAFT_CPUS it uses every usable core (the session comes
from ``multisql_spark.tables.local_session``).

Prints ONE JSON line with both timing columns and their totals:
  {"metric": "bench_headline", "value": N, "unit": "sec", "queries": {...},
   "value_noop": N, "queries_noop": {...}, "sf": ...}

The first four queries mirror BASELINE.md's metrics (filter-to-few-rows,
point lookup, groupBy-sum into ~20k groups, join+groupBy) at the driver's
scale factor; the rest are the engine's flagship shapes. Tables are cached
(the reference's sled bench also runs warm after Criterion's 5s warmup);
each query runs twice and reports the best time, Criterion-style.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _parse_sf(d: str) -> float:
    import re as _re

    m = _re.search(r"sf([0-9.]+)", d)
    return float(m.group(1).rstrip(".")) if m else 0.0


SF = _parse_sf(SF_DIR)


def build_session() -> SparkSession:
    from multisql_spark.tables import local_session

    return local_session("multisql_spark_bench")


def build_cases(spark: SparkSession) -> dict:
    """Construct the benchmarked DataFrames (shared with tools/dump_plans.py
    so the committed plan artifacts describe EXACTLY the benched plans)."""
    from multisql_spark.queries import load_all
    from multisql_spark.tables import load_tables

    tables = load_tables(spark, SF_DIR)
    for name in ("lineitem", "part", "orders", "customer"):
        tables[name].cache().count()

    l, p = tables["lineitem"], tables["part"]
    registry = load_all()

    # The reference's 0.5 ms filter_range is its INDEXED sled path — a
    # prebuilt B-tree keyed on the filter column.  The Spark analog of
    # that physical layout is a cache CLUSTERED on the key: sorting by
    # l_orderkey gives every in-memory columnar batch a tight min/max,
    # so InMemoryTableScan's batch-stat pruning skips all but the hit
    # batches (measured: 130 ms -> 64 ms filter, 122 ms -> 56 ms point
    # at sf0.1, against a 61 ms empty-job floor — i.e. the scan itself
    # is now sub-5 ms and the rest is irreducible local-mode job-launch
    # latency; see SCALE.md "latency-class queries").
    l_by_key = l.sort("l_orderkey").coalesce(8).cache()
    l_by_key.count()

    # baseline-mirror shapes (BASELINE.md: filter / point / groupby / join);
    # plans are prepared once and re-collected, mirroring Criterion's warm
    # re-execution of the same prepared query
    filter_df = l_by_key.filter(F.col("l_orderkey") < 100)
    point_df = l_by_key.filter(F.col("l_orderkey") == 60_000)
    groupby_df = l.groupBy("l_partkey").agg(F.sum("l_quantity").alias("s"))
    join_df = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(F.sum("l_quantity").alias("s"))
    )
    cases = {
        "filter_range": filter_df,
        "point_lookup": point_df,
        "groupby_sum": groupby_df,
        "join_groupby_sum": join_df,
        # the rest of the round-1 headline set, still prepared up front
        # (cheap, no build-time jobs) so its numbers stay comparable
        "pricing_summary": registry["pricing_summary"].fn(spark, SF_DIR),
        "join_multi_revenue": registry["join_multi_revenue"].fn(spark, SF_DIR),
        "window_topk": registry["window_topk_per_group"].fn(spark, SF_DIR),
        "dedup_exact": registry["dedup_exact"].fn(spark, SF_DIR),
        "text_token_stats": registry["text_token_stats"].fn(spark, SF_DIR),
        "sim_bruteforce_topk": registry["sim_bruteforce_topk"].fn(spark, SF_DIR),
        "sim_ann_ivf": registry["sim_ann_ivf"].fn(spark, SF_DIR),
        "tpch_cust_distribution": registry["tpch_cust_distribution"].fn(spark, SF_DIR),
        "range_join_events": registry["range_join_events"].fn(spark, SF_DIR),
    }
    # flagship engine shapes at the same SF — the DataFrame (logical plan)
    # is prepared once and re-collected warm, like Criterion re-running a
    # prepared query; plan build + codegen JIT are one-time costs that
    # amortize to zero on real workloads
    flagships = {
        "pipeline_prepare_corpus": "pipeline_prepare_corpus",
        "text_contamination": "text_contamination",
        "shard_layout": "pipeline_shard_layout",
        "sim_ann_ivfadc": "sim_ann_ivfadc",
        "bloom_prefilter": "dedup_bloom_prefilter",
        "unigram_logprob": "text_unigram_logprob",
        "domain_mix": "sample_domain_mix",
        "sessionize_batch": "events_sessionize_batch",
        "cdc_apply": "pipeline_cdc_apply",
        "active_users": "events_active_users",
        "quantized_topk": "sim_quantized_topk",
        "heavy_hitters_cms": "text_heavy_hitters_cms",
        "pca_power_iteration": "sim_pca_power_iteration",
        "bpe_pair_stats": "text_bpe_pair_stats",
        "tpch_local_supplier": "tpch_local_supplier_volume",
        # round-7: the production dedup path end-to-end (minhash
        # signatures -> bucket-capped LSH pair enumeration -> 2-of-3
        # ensemble verdict), tracked round-over-round like everything
        # else now that every heavy consumer runs capped
        "dedup_lsh_capped": "dedup_lsh_bucket_capped",
        "dedup_capped_verdict": "dedup_ensemble_verdict",
        # round-8: the Arrow-batched real-codec path (PNG inflate+unfilter,
        # AVI index walk) — the Python-kernel cost tracked like everything
        # else; both plans keep blobs in the scan stage
        "png_decode": "mm_png_decode",
        "video_frame_plan": "mm_video_frame_plan",
        # round-9: the baseline-JPEG entropy-decode + numpy-IDCT path
        "jpeg_decode": "mm_jpeg_decode",
        # round-5 sketch family: engine-exact approximation primitives
        "hll_distinct": "sketch_hll_deterministic",
        "quantile_bottomk": "sketch_quantile_bottomk",
        "zorder_layout": "pipeline_zorder_layout",
        "join_cardinality": "sketch_join_cardinality",
    }
    for label, qname in flagships.items():
        cases[label] = registry[qname].fn(spark, SF_DIR)
    return cases


def bench_queries(spark: SparkSession):
    cases = build_cases(spark)

    # These timings sit on Spark's ~100 ms job-launch floor, where
    # run-to-run scheduler/GC jitter of ±30 ms reads as a fake ±25%
    # "regression" (VERDICT r2 "What's wrong" #1 chased exactly that).
    # Two defenses: (1) prepare EVERY plan before timing ANY query so
    # the JVM/JIT is maximally warm for all of them, (2) report the
    # minimum of 7 measured runs — the minimum converges on the true
    # floor and is robust to one-sided noise, Criterion-style.
    #
    # Each query reports TWO columns (VERDICT r7 ask #4):
    # - collect: the Payload contract (result rows land on the driver),
    #   comparable with every prior round's numbers;
    # - noop: the SAME prepared physical plan executed JVM-side with no
    #   driver materialization (queryExecution().toRdd().count() — one
    #   long comes back), so rows whose collect is dominated by
    #   driver-side transfer (sessionize_batch: ~13x at sf10, SCALE.md
    #   §8o) track the ENGINE round-over-round.  A `noop`-sink write is
    #   NOT used because DataFrameWriter re-runs Catalyst analysis on
    #   every .save() while Dataset.collect reuses the cached
    #   QueryExecution — the write column would measure planning.
    timings: dict[str, float] = {}
    timings_noop: dict[str, float] = {}
    for name, df in cases.items():
        runs = {
            "collect": df.collect,
            "noop": lambda d=df: d._jdf.queryExecution().toRdd().count(),
        }
        for kind, fn in runs.items():
            fn()  # warmup
            best = float("inf")
            for _ in range(7):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            (timings if kind == "collect" else timings_noop)[name] = round(
                best, 4
            )
    return timings, timings_noop


def main() -> None:
    spark = build_session()
    timings, timings_noop = bench_queries(spark)
    print(
        json.dumps(
            {
                "metric": "bench_headline",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "value_noop": round(sum(timings_noop.values()), 4),
                "queries_noop": timings_noop,
                "sf": SF,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
