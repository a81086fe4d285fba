"""Physical-layout operators: multi-dimensional clustering (Z-order) and
small-file compaction.

These are write-time primitives, the complement of `write_bucketed`
(sources/__init__.py): bucketing co-locates a JOIN key; Z-ordering
co-locates *range predicates over several columns at once* so parquet
row-group/file min-max stats prune scans on ANY of the clustered
dimensions (the Delta/Iceberg `OPTIMIZE ZORDER BY` idea, built from
public bit-interleaving math). Compaction bounds file count for
incrementally-appended tables (e.g. the streaming foreachBatch sink) so
scan task scheduling stays O(data), not O(commits).

At 100 TB:
- ``write_zordered`` costs one range-shuffle of the data (the same price
  as any global sort) and pays it back on every subsequent selective
  scan against any clustered dimension;
- per-dimension min/max come from ONE bounded aggregation, broadcast as
  literals into the key expression — no second scan;
- ``compact_dir`` is one coalesce-write of the affected directory; run
  it per partition-directory, not per table, to bound the rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list, mins: list[float], maxs: list[float], bits: int = 16):
    """Interleaved-bit (Morton) key over ``cols``.

    Each column is affinely scaled to an integer in [0, 2^bits) using the
    provided min/max (broadcast literals), then the bits of all columns
    are interleaved — column j's bit i lands at position
    ``i * n_cols + j``. Values near each other in ANY dimension get
    nearby keys, which is what makes per-file min/max stats selective on
    every dimension after a range-partitioned write.

    Pure codegen arithmetic (shifts, masks, adds) — no UDF, no shuffle.
    """
    n = len(cols)
    scaled = []
    top = (1 << bits) - 1
    for c, lo, hi in zip(cols, mins, maxs):
        span = (hi - lo) or 1.0
        s = F.floor(
            (F.col(c).cast("double") - F.lit(float(lo)))
            / F.lit(float(span))
            * F.lit(float(top))
        ).cast("long")
        # clamp (max value maps to top, guard rounding)
        s = F.least(F.greatest(s, F.lit(0)), F.lit(top))
        scaled.append(s)
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, i * n + j)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``.

    One aggregation computes per-column min/max (broadcast into the key
    as literals), then a range repartition + within-partition sort on the
    interleaved key gives every output file a narrow key range — and
    therefore narrow min/max envelopes on EVERY clustered column, which
    is exactly what engines consult to skip files/row-groups.
    """
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = [stats[f"mn_{i}"] for i in range(len(cols))]
    maxs = [stats[f"mx_{i}"] for i in range(len(cols))]
    key = zorder_key(cols, mins, maxs, bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_minmax(path: str, column: str) -> list[tuple[float, float]]:
    """Per-file (min, max) of ``column`` from parquet footer statistics —
    the exact metadata a scan consults for file/row-group skipping."""
    import os

    import pyarrow.parquet as pq

    out = []
    for fname in sorted(os.listdir(path)):
        if not fname.startswith("part-"):
            continue
        md = pq.read_metadata(os.path.join(path, fname))
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics:
                    st = col.statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out.append((lo, hi))
    return out


def skipped_fraction(path: str, column: str, value: float) -> float:
    """Fraction of files whose [min, max] envelope EXCLUDES ``value`` —
    i.e. the files an equality/point scan would skip on stats alone."""
    ranges = file_minmax(path, column)
    if not ranges:
        return 0.0
    skipped = sum(1 for lo, hi in ranges if not (lo <= value <= hi))
    return skipped / len(ranges)


def compact_dir(spark, path: str, n_files: int = 1) -> int:
    """Compact a parquet directory to ``n_files`` files (OPTIMIZE shape).

    Incremental writers (microbatch sinks, per-batch appends) accumulate
    many small files; scan cost then scales with file count, not bytes.
    Rewrite-in-place via a temp directory + atomic directory swap, same
    crash-safety pattern as the streaming sink's swap-on-write.
    Returns the resulting file count.
    """
    import glob
    import os
    import shutil
    import tempfile

    df = spark.read.parquet(path)
    # the scan packs small files into as few partitions as the cores
    # allow, and coalesce only merges: spread fewer partitions out
    if df.rdd.getNumPartitions() < n_files:
        df = df.repartition(n_files)
    tmp = tempfile.mkdtemp(prefix="msql_compact_")
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    old = tempfile.mkdtemp(prefix="msql_compact_old_")
    for f in os.listdir(path):
        shutil.move(os.path.join(path, f), os.path.join(old, f))
    for f in os.listdir(tmp):
        shutil.move(os.path.join(tmp, f), os.path.join(path, f))
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.catalog.refreshByPath(path)
    return len(glob.glob(os.path.join(path, "part-*")))


def write_day_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", part_col: str = "p_day"
) -> None:
    """Write ``df`` as a hive-style date-partitioned parquet table.

    The canonical 100 TB fact-table layout: one directory per day means
    (a) static partition pruning — a ``WHERE p_day = X`` scan lists one
    directory, not the table; (b) *dynamic* partition pruning — a join
    whose other side is filtered broadcasts the surviving day set into
    this table's partition filter at runtime (Spark's DPP), so only the
    joined days are read; (c) retention/compaction operate per-directory.

    Rows are hash-repartitioned on the day column before the write so
    each day is produced by one task → one file per day, not
    ``tasks × days`` small files.
    """
    out = df.withColumn(part_col, F.to_date(F.col(ts_col)))
    (
        out.repartition(F.col(part_col))
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(path)
    )


# -- snapshot versioning (time travel) --------------------------------------


def write_snapshot(df: DataFrame, path: str) -> int:
    """Append a new immutable snapshot version of ``df`` under ``path``.

    Minimal time-travel layout (the Delta/Iceberg snapshot idea without
    a manifest format): each write lands in ``path/v=<K>`` with K one
    past the latest; readers resolve a version directory, so old
    versions stay readable until vacuumed, writers never mutate a
    published version, and concurrent readers are isolated for free.
    Returns the new version number.
    """
    import os

    os.makedirs(path, exist_ok=True)
    version = max(snapshot_versions(path), default=-1) + 1
    df.write.mode("errorifexists").parquet(f"{path}/v={version}")
    return version


def snapshot_versions(path: str) -> list[int]:
    """All published snapshot versions under ``path``, ascending."""
    import os

    if not os.path.isdir(path):
        return []
    return sorted(
        int(d.split("=")[1])
        for d in os.listdir(path)
        if d.startswith("v=") and d.split("=")[1].isdigit()
    )


def read_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Read a snapshot table as of ``version`` (default: latest)."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    return spark.read.parquet(f"{path}/v={version}")


def vacuum_snapshots(path: str, keep: int = 1) -> list[int]:
    """Drop all but the newest ``keep`` versions; returns those removed.
    The retention knob that bounds storage: at 100 TB each snapshot only
    costs the *changed* files if writers use per-partition snapshotting,
    but time travel still needs an explicit horizon."""
    import shutil

    versions = snapshot_versions(path)
    doomed = versions[:-keep] if keep > 0 else versions
    for v in doomed:
        shutil.rmtree(f"{path}/v={v}", ignore_errors=True)
    return doomed


def write_key_sharded(
    df: DataFrame, path: str, key_col: str, n_shards: int = 16
) -> None:
    """Write a hive-style md5-key-sharded layout (``shard=K``
    directories): the deterministic 16-way sharding of
    `pipeline_shard_layout` made physical, so any by-key maintenance
    (targeted deletes, point lookups, incremental re-writes) touches one
    directory instead of the whole table."""
    import json
    import os

    shard = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 2), 16, 10)
        .cast("int")
        % n_shards
    )
    (
        df.withColumn("shard", shard)
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    # Persist the sharding modulus: partitionBy only materializes
    # directories for POPULATED shards, so counting `shard=` dirs at
    # delete time under-infers n_shards whenever a shard is empty (and a
    # NULL key adds a __HIVE_DEFAULT_PARTITION__ dir) — the delete would
    # then hash keys with the wrong modulus and silently miss rows.
    with open(os.path.join(path, "_shards.json"), "w") as f:
        json.dump({"key_col": key_col, "n_shards": n_shards}, f)


def delete_keys(
    spark, path: str, key_col: str, keys: list, n_shards: int | None = None
) -> dict:
    """Targeted deletion (GDPR / right-to-be-forgotten shape) over a
    key-sharded layout: compute each key's shard, rewrite ONLY those
    shard directories with the keys filtered out, leave every other
    shard's files untouched (atomic per-shard directory swap).

    The sharding modulus comes from the ``_shards.json`` sidecar that
    ``write_key_sharded`` persists (or an explicit ``n_shards``
    argument); it is NEVER inferred from directory counts, which
    under-count when a shard happens to be empty.

    At 100 TB this is the difference between rewriting ~keys/16 of the
    table and rewriting all of it; the same routine drives CCPA
    deletes, per-customer retention purges and poisoned-document
    removal.  Returns {"shards_rewritten", "rows_deleted"}."""
    import hashlib
    import json
    import os
    import shutil
    import tempfile

    if n_shards is None:
        sidecar = os.path.join(path, "_shards.json")
        if not os.path.exists(sidecar):
            raise ValueError(
                f"no _shards.json sidecar under {path!r}; pass n_shards "
                "explicitly (directory counting is unsafe: empty shards "
                "have no directory)"
            )
        with open(sidecar) as f:
            n_shards = int(json.load(f)["n_shards"])
    hit = sorted(
        {
            int(hashlib.md5(str(k).encode()).hexdigest()[:2], 16) % n_shards
            for k in keys
        }
    )
    deleted = 0
    rewritten = 0
    for s in hit:
        sdir = os.path.join(path, f"shard={s}")
        old = os.path.join(path, f".shard_old_{s}")
        # Crash recovery from a previous run: a leftover .shard_old_N
        # with no live shard directory means we died between the two
        # renames — the parked data IS the shard, so restore it.  If
        # both exist, the swap completed and only the cleanup was lost.
        if os.path.isdir(old):
            if not os.path.isdir(sdir):
                os.rename(old, sdir)
            else:
                shutil.rmtree(old, ignore_errors=True)
        if not os.path.isdir(sdir):  # shard empty at write time
            continue
        sub = spark.read.parquet(sdir)
        before = sub.count()
        kept = sub.filter(~F.col(key_col).isin([*keys]))
        after = kept.count()
        if after == before:
            continue
        parent = os.path.dirname(sdir)
        # Dot-prefixed temp dir: Spark/parquet partition discovery skips
        # hidden paths, so a crash mid-write can't leave a half-written
        # non-hidden shard_new_* that breaks whole-table reads.
        tmp = tempfile.mkdtemp(prefix=".shard_new_", dir=parent)
        kept.coalesce(max(1, len(os.listdir(sdir)) - 1)).write.mode(
            "overwrite"
        ).parquet(tmp)
        # Atomic swap for concurrent readers: two same-filesystem
        # renames, not per-file moves.
        shutil.rmtree(old, ignore_errors=True)
        os.rename(sdir, old)
        os.rename(tmp, sdir)
        shutil.rmtree(old, ignore_errors=True)
        deleted += before - after
        rewritten += 1
    spark.catalog.refreshByPath(path)
    return {"shards_rewritten": rewritten, "rows_deleted": deleted}


def file_stats_report(path: str, small_kb: int = 64) -> dict:
    """Layout-health report for a parquet directory tree: file count,
    byte total, small-file count/fraction, largest/smallest — the
    numbers that decide when `compact_dir` is worth running (many small
    files → scan scheduling overhead dominates).  Metadata-only: walks
    the directory, reads no data."""
    import os

    sizes = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-") or f.endswith(".parquet"):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    if not sizes:
        return {
            "n_files": 0, "total_bytes": 0, "n_small": 0,
            "small_frac": 0.0, "min_bytes": 0, "max_bytes": 0,
        }
    small = sum(1 for s in sizes if s < small_kb * 1024)
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "n_small": small,
        "small_frac": round(small / len(sizes), 4),
        "min_bytes": min(sizes),
        "max_bytes": max(sizes),
    }
