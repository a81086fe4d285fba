"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(
    df: DataFrame,
    key: str | None = "doc_id",
    only_if_serial: bool = False,
) -> DataFrame:
    """Scale-adaptive fan-out ahead of an expensive per-row stage (codec
    decode, per-token hashing).

    ``only_if_serial=True`` is the variant for CHEAP-per-row consumers
    (fused JVM aggregates): repartition only when the upstream stage is
    a single partition — i.e. the stage has no parallelism at all — so
    a partly-parallel scan never pays an exchange it cannot amortize.

    When the upstream scan yields fewer partitions than the session's
    parallelism (single-file / single-row-group inputs — the shape of
    every local test table), hash-repartition the NARROW projection to
    ``defaultParallelism`` so the per-row work runs on every core.  At
    cluster scale a real table arrives in hundreds of splits, the
    condition is false, and this is a no-op — no exchange is added where
    the scan already parallelizes (guide §2.2/§2.5: partitioning must be
    scale-adaptive, never a local constant).  The exchange only ever
    moves the projected input columns (ids + text), never derived blobs,
    and hashing on a real key keeps the assignment deterministic under
    task retry (guide §2.5 vs round-robin-of-rand).
    """
    try:
        n = df.rdd.getNumPartitions()
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # streaming DataFrames have no .rdd — leave as-is
        return df
    if only_if_serial:
        # cheap-per-row consumers (fused JVM aggregates): the exchange
        # only pays for itself when the upstream stage has NO
        # parallelism at all.  Measured r12 at derived sf10: firing on
        # a 3-partition scan made cube_status_priority 3.2 → 4.2 s
        # (the 15M-row exchange cost more than 3→32-way parallelism
        # recovered), while the 1-partition sf0.1 case wins 2×.  With
        # one task slot there is no parallelism to recover either.
        if n > 1 or target <= n:
            return df
    elif n >= target:
        return df
    if key is not None and key in df.columns:
        return df.repartition(target, F.col(key))
    return df.repartition(target)
