"""Named-database source adapters (reference storage backends,
``src/database/mod.rs:26-38`` and ``src/databases/*``).

``CREATE DATABASE name LOCATION 'path'`` guesses the backend from the path
just like the reference (``src/glue/mod.rs:110-129``):

- directory           → parquet database (the sled-equivalent native store):
  every ``<table>.parquet`` inside becomes ``name__<table>``
- ``*.csv``           → single-table CSV database (schema inference parity
  with ``src/databases/csv/discern.rs`` via Spark's inferSchema)
- ``*.xlsx``          → spreadsheet backend (stdlib OOXML reader/writer)
- ``*.xls``           → legacy BIFF8 spreadsheet backend (stdlib, beyond
  ref — the reference's sheet backend is xlsx-only)
- ``jdbc:...`` URL    → JDBC passthrough (the ODBC-equivalent) via
  ``spark.read.jdbc`` — no 1000-row cap, predicate pushdown for free

Tables register as temp views ``{db}__{table}``; the dialect layer rewrites
``db.table`` references to those names.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class SourceDatabase:
    name: str
    path: str
    kind: str  # parquet | csv | xlsx | jdbc
    tables: dict[str, object] = field(default_factory=dict)

    def table_names(self) -> list[str]:
        return sorted(self.tables)


def attach_database(
    spark: SparkSession, name: str, path: str
) -> SourceDatabase:
    if path.startswith("jdbc:"):
        return _attach_jdbc(spark, name, path)
    if path.endswith(".csv"):
        return _attach_csv(spark, name, path)
    if path.endswith((".json", ".jsonl", ".ndjson")):
        return _attach_json(spark, name, path)
    if path.endswith(".xlsx"):
        return _attach_xlsx(spark, name, path)
    if path.endswith(".orc"):
        return _attach_orc(spark, name, path)
    if path.endswith(".xls"):
        return _attach_xls(spark, name, path)
    if os.path.isdir(path) or path.endswith("/"):
        return _attach_parquet_dir(spark, name, path)
    raise ValueError(f"cannot guess database backend for path: {path}")


def _read_parquet(spark: SparkSession, fpath: str):
    """Parquet read that tolerates TIMESTAMP(NANOS) columns: a tuned
    session (``tables._SESSION_CONFS``) reads them as long, and they are
    converted here to microsecond timestamps."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    df = spark.read.parquet(fpath)
    try:
        arrow_schema = pq.read_schema(fpath)
    except OSError:
        # files carrying logical types pyarrow doesn't know (e.g. the
        # VARIANT type our Any columns persist) can't be probed for the
        # nanos fixup — those are our own writes, never TIMESTAMP(NANOS)
        return df
    for fld in arrow_schema:
        if str(fld.type) == "timestamp[ns]":
            df = df.withColumn(
                fld.name, F.expr(f"timestamp_micros({fld.name} div 1000)")
            )
    return df


def _attach_parquet_dir(
    spark: SparkSession, name: str, path: str
) -> SourceDatabase:
    db = SourceDatabase(name=name, path=path, kind="parquet")
    for fname in sorted(os.listdir(path)):
        if fname.endswith(".parquet"):
            tname = fname[: -len(".parquet")]
            df = _read_parquet(spark, os.path.join(path, fname))
            df.createOrReplaceTempView(f"{name}__{tname}")
            db.tables[tname] = df
    return db


# the reference's CSV cell parse chain (src/databases/csv/record.rs:7-15):
# bool -> u64 -> i64 -> f64 -> str.  Kind regexes mirror Rust's FromStr
# acceptance: bool is exactly true/false; u64 takes an optional '+';
# i64 adds '-'; f64 is everything try_cast(DOUBLE) accepts.
_CSV_BOOL = r"^(true|false)$"
_CSV_U64 = r"^\+?[0-9]+$"
_CSV_I64 = r"^[+-]?[0-9]+$"


def _csv_cell_kind(cell: str) -> str:
    import re as _re

    if _re.match(_CSV_BOOL, cell):
        return "bool"
    if _re.match(_CSV_U64, cell):
        return "u64"
    if _re.match(_CSV_I64, cell):
        return "i64"
    try:
        float(cell)
        return "f64"
    except ValueError:
        return "str"


def _csv_any_variant_expr(col: str):
    """Per-row dynamic conversion of a discerned-Any CSV column to
    VARIANT, applying the reference's parse chain per cell."""
    from pyspark.sql import functions as F

    c = F.col(col)
    return (
        F.when(c.isNull(), F.lit(None).cast("variant"))
        .when(c.rlike(_CSV_BOOL), F.parse_json(c))
        # try_cast, not cast: a digit run exceeding the i64 range falls
        # through to the f64 branch like the reference's parse chain
        # (record.rs:7-15) instead of failing the read under ANSI mode
        .when(
            c.rlike(_CSV_I64) & c.try_cast("bigint").isNotNull(),
            c.try_cast("bigint").cast("variant"),
        )
        .when(
            c.try_cast("double").isNotNull(), c.cast("double").cast("variant")
        )
        .otherwise(c.cast("variant"))
        .alias(col)
    )


def _attach_csv(spark: SparkSession, name: str, path: str) -> SourceDatabase:
    db = SourceDatabase(name=name, path=path, kind="csv")
    tname = os.path.splitext(os.path.basename(path))[0]
    # reference infers header + types from a 100-row sample
    # (src/databases/csv/discern.rs:16-100); Spark's inferSchema is the
    # built-in equivalent for the single-typed columns
    df = spark.read.csv(path, header=True, inferSchema=True)
    # Reference Any-column discernment (discern.rs:80-100): a sampled
    # column whose cells parse to DIFFERENT value kinds becomes
    # ValueType::Any — per-row dynamic values, not a string downgrade.
    # Spark's inferSchema folds such columns to string; re-discern those
    # from the same 100-row sample and lift mixed-kind ones to VARIANT
    # with the reference's cell parse chain applied per row.
    str_cols = [f.name for f in df.schema.fields
                if f.dataType.simpleString() == "string"]
    if str_cols:
        sample = df.select(str_cols).limit(100).collect()
        any_cols = []
        for colname in str_cols:
            kinds = {
                _csv_cell_kind(row[colname])
                for row in sample
                if row[colname] is not None
            }
            if len(kinds) > 1:
                any_cols.append(colname)
        if any_cols:
            df = df.select(
                *[
                    _csv_any_variant_expr(f.name)
                    if f.name in any_cols
                    else df[f.name]
                    for f in df.schema.fields
                ]
            )
    df.createOrReplaceTempView(f"{name}__{tname}")
    db.tables[tname] = df
    return db


def _attach_orc(spark: SparkSession, name: str, path: str) -> SourceDatabase:
    """Single-table ORC database (attach-by-extension, like csv/json).

    ORC is Spark-native columnar with the same predicate-pushdown and
    min/max-stripe pruning story as parquet — at 100 TB it behaves like
    the parquet backend, not the row formats."""
    db = SourceDatabase(name=name, path=path, kind="orc")
    tname = os.path.splitext(os.path.basename(path))[0]
    df = spark.read.orc(path)
    df.createOrReplaceTempView(f"{name}__{tname}")
    db.tables[tname] = df
    return db


def write_bucketed(
    df, name: str, key: str, buckets: int = 8, sort: bool = True
) -> None:
    """Persist a DataFrame as a bucketed (+ sorted) managed table.

    Bucketing is the 100 TB co-location primitive: two tables bucketed on
    the same key with the same bucket count join with NO exchange (and no
    sort, if sorted) — the shuffle is paid once at write time and
    amortized over every subsequent join/aggregation on that key. The
    reference's CREATE INDEX maps here (SURVEY §2.11): a sorted bucket
    layout is the scalable analogue of its sorted value→key index.
    """
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(name)


def _attach_xls(spark: SparkSession, name: str, path: str) -> SourceDatabase:
    """Legacy BIFF8 spreadsheet backend (beyond ref — the reference's
    sheet backend, src/databases/sheet/base.rs, is xlsx-only): same
    one-table-per-sheet + header-discernment + rewrite-on-write contract
    as xlsx, via the stdlib BIFF8 reader in
    :mod:`multisql_spark.sources.xls`."""
    from multisql_spark.sources import xls

    db = SourceDatabase(name=name, path=path, kind="xls")
    for sheet, rows in xls.read_workbook(path).items():
        df = xlsx_sheet_df(spark, rows)
        df.createOrReplaceTempView(f"{name}__{sheet}")
        db.tables[sheet] = df
    return db


def _attach_xlsx(spark: SparkSession, name: str, path: str) -> SourceDatabase:
    """Spreadsheet backend: one table per sheet (reference
    src/databases/sheet/base.rs), header row discerned like the CSV
    backend. Stdlib OOXML reader — see :mod:`multisql_spark.sources.xlsx`."""
    from multisql_spark.sources import xlsx

    db = SourceDatabase(name=name, path=path, kind="xlsx")
    for sheet, rows in xlsx.read_workbook(path).items():
        df = xlsx_sheet_df(spark, rows)
        df.createOrReplaceTempView(f"{name}__{sheet}")
        db.tables[sheet] = df
    return db


def xlsx_sheet_df(spark: SparkSession, rows):
    """Sheet grid → typed DataFrame, with per-column type discernment and
    demotion on conflict (reference discern.rs:43-70: conflicting columns
    → Any, surfaced as string)."""
    from pyspark.sql import types as T

    from multisql_spark.sources import xlsx

    headers, data = xlsx.sheet_to_table(rows)
    fields, casts = [], []
    for i, h in enumerate(headers):
        kinds = {type(r[i]) for r in data if r[i] is not None}
        if kinds <= {bool}:
            st, cast = T.BooleanType(), None
        elif kinds <= {int}:
            st, cast = T.LongType(), None
        elif kinds <= {int, float}:
            st, cast = T.DoubleType(), float
        elif not kinds:
            st, cast = T.StringType(), None
        else:
            st, cast = T.StringType(), str
        fields.append(T.StructField(h, st, True))
        casts.append(cast)
    pyrows = [
        tuple(
            cast(v) if (cast and v is not None) else v
            for v, cast in zip(r, casts)
        )
        for r in data
    ]
    return spark.createDataFrame(pyrows, schema=T.StructType(fields))


def _attach_json(spark: SparkSession, name: str, path: str) -> SourceDatabase:
    """JSON-lines database (beyond-reference source format; the reference's
    JSON surface is only result export, src/glue/select.rs:14-36). Schema
    inference is Spark-native; at scale prefer an explicit schema to skip
    the inference pass."""
    db = SourceDatabase(name=name, path=path, kind="json")
    tname = os.path.splitext(os.path.basename(path))[0]
    df = spark.read.json(path)
    df.createOrReplaceTempView(f"{name}__{tname}")
    db.tables[tname] = df
    return db


def _attach_jdbc(spark: SparkSession, name: str, url: str) -> SourceDatabase:
    # reflection of remote schemas (reference src/databases/odbc/base.rs)
    # happens lazily per-table: `db.table` resolves through spark.read.jdbc
    return SourceDatabase(name=name, path=url, kind="jdbc")
