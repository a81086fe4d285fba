"""Degenerate-input totality: every registry query must degrade to its
natural empty (or single-summary-row) result on a zero-row dataset and
stay total on a one-row dataset — never crash.

At 100 TB an empty input is an ordinary event (a filter matching
nothing, an empty day-partition, a cold-start incremental index), so a
query that divides by a driver-side count, literal-izes an empty
centroid fit into untyped ``array()``s, or unpacks ``collect()[0]`` of
no rows is a production outage, not an edge case.  A full-registry probe
(round 5) found 16 such crashes; this suite pins exactly those queries
plus one representative per major family so the classes of failure —
driver-side ZeroDivision, ``approx_percentile → None`` cutpoints,
empty-fit literal arrays, pandas/Arrow sentinel arithmetic — stay fixed
without re-running all 270 queries (~12 min); the full probe remains a
round-level tool run.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from multisql_spark.queries import load_all

# the 16 queries the round-5 full-registry probe found crashing on
# zero-row input, each representative of a driver-side-state class
FIXED_IN_R5 = [
    "dedup_graph_pagerank",  # n = deg.count() -> 1e9/0
    "events_markov_stationary",  # _MK_SCALE // 0 states
    "pipeline_selection_frontier",  # approx_percentile cuts = None
    "orders_abc_parts",  # approx_percentile cuts = None
    "window_ntile_quartiles",  # percentile_approx cuts = None
    "pipeline_dataset_card",  # ANSI 0/0 in global-agg ratios
    "monitor_value_drift_ks",  # ANSI 0/0 in windowed CDF
    "sample_kcenter_coreset",  # collect()[0] of empty exemplar head
    "sim_ann_ivf_kmeans",  # empty-fit untyped array() literals ...
    "sim_ann_nprobe_sweep",
    "sim_ivf_incremental_add",
    "sim_kmeans_cluster_stats",
    "sim_ann_pq",
    "sim_ann_ivfadc",
    "dedup_semantic",
    "stream_stateful_sessionize",  # pyarrow max(ts)=None + gap sentinel
]
# the 9 queries a one-row probe found crashing: degenerate statistics —
# n-1 sample variance, zero spans, single-class AUC, constant-value
# histogram ranges, empty bootstrap resamples.  All now use try_divide,
# which is also exactly DuckDB's NULL-on-/0, so the oracle parity holds
# even in the degenerate region.
FIXED_IN_R5_ONE_ROW = [
    "events_bootstrap_se",
    "events_reliability_mtbf",
    "events_hill_tail_index",
    "sim_norm_outliers",
    "events_value_histogram",
    "events_burst_hours",
    "sample_neyman_allocation",
    "monitor_score_auc",
    "monitor_value_drift_psi",
]
# one cheap representative per family that already passed the probe —
# guards the fixture itself and the common load-path against regression
REPRESENTATIVES = [
    "pricing_summary",
    "dedup_exact",
    "text_token_stats",
    "sample_hash_split",
    "events_rollup_hourly",
    "mm_metadata_stats",
]
# the multimodal codec stages: each runs a Python worker over every
# asset (``multimodal._per_asset``, and ``_jpeg_decode`` for JPEG);
# these pin the workers on no assets and on a single asset
CODEC_STAGES = [
    "mm_bmp_decode",
    "mm_png_decode",
    "mm_gif_decode",
    "mm_jpeg_decode",
    "mm_jpeg_decode_ac",
    "mm_video_frame_plan",
    "mm_wav_energy",
    "mm_feature_extract",
    "mm_resize_pool",
]


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("sf0_empty")
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(src, f))
            pq.write_table(schema.empty_table(), str(dst / f))
    return str(dst)


@pytest.fixture(scope="module")
def one_row_sf_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("sf_one")
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            tbl = pq.read_table(os.path.join(src, f)).slice(0, 1)
            pq.write_table(tbl, str(dst / f))
    return str(dst)


@pytest.mark.parametrize(
    "name", FIXED_IN_R5 + FIXED_IN_R5_ONE_ROW + REPRESENTATIVES + CODEC_STAGES
)
def test_query_total_on_empty_input(spark, empty_sf_dir, name):
    spec = load_all()[name]
    rows = spec.fn(spark, empty_sf_dir).collect()
    # global aggregates legitimately return one summary row of
    # NULL/zero stats; everything else must be empty
    assert len(rows) <= 1


@pytest.mark.parametrize("name", FIXED_IN_R5_ONE_ROW + CODEC_STAGES)
def test_query_total_on_one_row_input(spark, one_row_sf_dir, name):
    spec = load_all()[name]
    spec.fn(spark, one_row_sf_dir).collect()  # must not raise
