"""The ``Glue``-equivalent session (reference ``src/glue/mod.rs:33-187``).

``MultiSQLSession`` owns a SparkSession, a named-database registry, session
variables and managed in-memory tables, and routes SQL statements the way
the reference's ``execute_parsed`` does (``src/executor/execute.rs:55-177``):

- queries (SELECT / VALUES / WITH / set-ops) → dialect rewrite → ``spark.sql``
- DDL (CREATE/DROP/ALTER TABLE, CREATE VIEW, CREATE INDEX, CREATE DATABASE)
- DML (INSERT / UPDATE / DELETE / TRUNCATE) over managed tables, with the
  reference's write-path validation: declared types, NOT NULL, DEFAULT,
  AUTO_INCREMENT, UNIQUE (``src/executor/alter_row/validate.rs:46-99``,
  ``validate_unique.rs:24-100``)
- ``SET @var = literal`` session variables (``src/executor/set_variable.rs``)
- ``EXPLAIN`` metadata introspection (``src/executor/other/explain.rs``)
- ``EXECUTE FILE('x.sql')`` scripts (``src/executor/procedure.rs``)

Statements are parsed once, as the reference parses them with sqlparser
(``src/parse_sql.rs:6-17``): a script splits at the ``;`` outside
strings, quoted values, comments and parentheses, and ``dialect.parse``
reads each statement into its kind, flags, target table (``db.table``,
names plain or quoted) and clauses as source text, without comments, for
the handler of its kind.

Managed tables are materialized on commit, as the reference's storages
rewrite a table on write: every INSERT, UPDATE, DELETE, MERGE and TRUNCATE
computes the new version (INSERT = union with the validated batch, UPDATE =
when/otherwise projection, DELETE = filter) and stores it as one checkpoint,
so a read scans a single stored leaf instead of replaying the table's DML
history.  Persistent databases attach parquet/CSV directories through
:mod:`multisql_spark.sources`; their writes go back to the file instead.

A write makes one pass per version (``_commit``), as the reference
validates and writes a row batch in one pass: every count and check that
is a plain aggregate (affected rows, NULL counts, key counts, collisions
with existing keys) is observed on the pass that builds the version
(``DataFrame.observe``), not run as its own job.  A literal batch (an
``insert_vec`` batch, or INSERT VALUES that the optimizer turns into a
``LocalRelation``) is counted on the driver, which holds its rows, and is
never stored: the version is its one stored copy.  Only a batch computed
from tables (``INSERT … SELECT``, MERGE's inserted rows) is stored first,
observing its counts.  DISTINCT counts cannot be observed, so they run
only when they can fire: over such a batch carrying more than one key,
or over an UPDATE's version when it assigns a UNIQUE column.  The
version replaces ``state.df`` (or the attached file) only after its
checks pass.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multisql_spark import dialect
from multisql_spark.payload import Payload
from multisql_spark.sources import SourceDatabase, attach_database
from multisql_spark.tables import local_session, tune_session

if TYPE_CHECKING:
    import pyarrow as pa


class EngineError(Exception):
    """Base engine error (reference returns a typed Error enum; these
    subclasses mirror its families so host code can catch specifically,
    DIVERGENCES #15)."""


class TableNotFoundError(EngineError):
    """FetchError::TableNotFound / ExecuteError::TableNotExists /
    AlterTableError::TableNotFound."""


class ColumnNotFoundError(EngineError):
    """ValidateError::ColumnNotFound / AlterTableError::ColumnNotFound."""


class AlreadyExistsError(EngineError):
    """CreateError::AlreadyExists / database-exists shapes."""


class NotNullViolation(EngineError):
    """ValidateError::NullValueOnNotNullField."""


class UniqueViolation(EngineError):
    """ValidateError::DuplicateEntryOnUniqueField."""


class UnsupportedError(EngineError):
    """ExecuteError::QueryNotSupported / AlterError::UnsupportedDataType /
    AlterError::UnsupportedColumnOption."""


# --- schema model (reference src/data/column.rs:13-20) ----------------------

# a column definition's DEFAULT expression: its source text up to the
# next column option
_COLUMN_DEFAULT = ("<column> [<type*>] DEFAULT <default*> [{NOT NULL | NULL"
                   " | UNIQUE | PRIMARY KEY | AUTO_INCREMENT | AUTOINCREMENT"
                   " | CHECK | DEFAULT} [<options*>]]")

_TYPE_MAP = {
    "BOOLEAN": "boolean",
    "BOOL": "boolean",
    "INT": "bigint",
    "INTEGER": "bigint",
    "BIGINT": "bigint",
    "UNSIGNED INT": "bigint",
    "UINT": "bigint",
    "FLOAT": "double",
    "DOUBLE": "double",
    "TEXT": "string",
    "STRING": "string",
    "VARCHAR": "string",
    "TIMESTAMP": "timestamp",
    # reference ValueType::Any (value_type/mod.rs:17, the DataType
    # fallthrough at :47): a column that accepts any value per row.
    # Spark 4 VARIANT carries per-row dynamic values; the Payload layer
    # collapses VariantVal cells back to native bool/int/float/str
    # (DIVERGENCES #4 — closed for declared-Any columns in r4).
    "ANY": "variant",
}


@dataclass
class ColumnDef:
    name: str
    type_str: str = "string"
    not_null: bool = False
    unique: bool = False
    default: str | None = None
    auto_increment: bool = False


@dataclass
class TableState:
    name: str
    columns: list[ColumnDef]
    df: DataFrame
    auto_counter: dict[str, int] = field(default_factory=dict)
    # the largest value of each AUTO_INCREMENT UNIQUE column in df, as the
    # last commit pass observed it (None: the column holds no value); a
    # column missing here may hold any value
    ai_top: dict[str, int | None] = field(default_factory=dict)
    indexes: dict[str, dict] = field(default_factory=dict)
    # an attached table's database and its name there: every write goes
    # back to its file through ``source.write`` (reference DBMut)
    source: SourceDatabase | None = None
    source_table: str | None = None
    # a managed table's df is its committed version: the checkpoint that
    # _materialize stored at the end of the last write statement (ALTER
    # TABLE may add a projection until the next write); a write replaces
    # it, never stacks onto it
    # df's schema, kept here because each ``DataFrame.schema`` access is
    # a JVM round trip: a write keeps the column types, so it changes
    # only where the table is created, altered or read back from its file
    schema: T.StructType | None = None

    def __post_init__(self) -> None:
        if self.schema is None:
            self.schema = self.df.schema

    def column(self, name: str) -> ColumnDef | None:
        for c in self.columns:
            if c.name.lower() == name.lower():
                return c
        return None


def _materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once and store it as the single leaf of a new plan,
    serialized (the JVM's deserialized default holds more heap per row).

    Constraint propagation is off while the checkpoint is made: Spark
    4.1's ``LogicalRDD`` keeps the constraints of the plan it was made
    from; across chained checkpoints these name attributes the plan no
    longer outputs, and a later Union over the table fails in
    ``rewriteConstraints`` with ``NoSuchElementException``."""
    conf = df.sparkSession.conf
    key = "spark.sql.constraintPropagation.enabled"
    prev = conf.get(key)
    conf.set(key, "false")
    try:
        return df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    finally:
        conf.set(key, prev)


def _sized(version: DataFrame, rows: int) -> DataFrame:
    """``version``, a table version :func:`_materialize` stored, as the
    same stored leaf with the size estimate of ``rows`` rows: Catalyst
    sizes a ``LIMIT rows`` over it at ``rows`` times its row width."""
    spark = version.sparkSession
    jvm = spark._jvm
    plan = version._jdf.queryExecution().logical()
    limited = version.limit(max(rows, 1))._jdf.queryExecution()
    leaf = plan.copy(
        plan.output(), plan.rdd(), plan.outputPartitioning(),
        plan.outputOrdering(), plan.isStreaming(), plan.stream(),
        spark._jsparkSession, jvm.scala.Some(limited.optimizedPlan().stats()),
        # no constraints, as _materialize stores none
        jvm.scala.Option.apply(None),
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, leaf
        ),
        spark,
    )


def _release(version: DataFrame) -> None:
    """Free the blocks of a version :func:`_materialize` stored that no
    table took (its checks rejected it)."""
    version._jdf.queryExecution().logical().rdd().unpersist(False)


def _in_order_ids(
    df: DataFrame, col: str, start: int, dtype: str
) -> DataFrame:
    """Fill ``col`` with ``start+1 .. start+n`` in row order, in the plan
    that reads it, with no job: coalesced into one partition,
    ``monotonically_increasing_id`` counts the rows from 0 in the order
    they were given (a literal batch) or partition by partition (a
    stored one), so the ids are dense and do not depend on the core
    count.  The reference allocates AUTO_INCREMENT ids one batch at a
    time too (sled/auto_increment.rs:12-55)."""
    return df.coalesce(1).withColumn(
        col, F.expr(f"CAST(monotonically_increasing_id() + {start + 1}"
                    f" AS {dtype})")
    )


def _arrow_batch(schema: T.StructType, rows: list[tuple] = ()) -> pa.Table:
    """``rows`` as an Arrow table in ``schema``'s types; a row of the
    wrong length or a value its column's type cannot hold raises
    :class:`EngineError`.  ``createDataFrame`` plans the table as one
    ``LocalRelation``: a stored leaf that carries its size estimate, so a
    join over it can be planned as a broadcast and a version built from
    it stays sized.  (``createDataFrame`` of a Python list plans a
    ``LogicalRDD`` of unknown size instead.)"""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    if any(len(r) != len(arrow) for r in rows):
        raise EngineError(f"each row must carry {len(arrow)} values")
    columns = list(zip(*rows)) or [()] * len(arrow)
    try:
        return pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(columns, arrow)],
            schema=arrow,
        )
    except (pa.ArrowException, OverflowError) as exc:
        raise EngineError(f"incompatible data: {exc}") from exc


def _is_literal(df: DataFrame) -> bool:
    """Whether the optimizer turns ``df`` into one ``LocalRelation``: rows
    the driver holds, which a collect reads without a job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _dtypes(schema: T.StructType) -> dict[str, str]:
    """``DataFrame.dtypes`` of a schema already fetched."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _spark_type(t: str) -> T.DataType:
    return {
        "boolean": T.BooleanType(),
        "bigint": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "timestamp": T.TimestampType(),
        "variant": T.VariantType(),
    }[t]


_INTEGRAL = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)

# declared type → incoming Spark types accepted on write, mirroring the
# reference's Value::is (src/data/value/mod.rs:232-260): exact type, or the
# I64→F64 / I64↔Timestamp auto-widenings; everything else is
# IncompatibleDataType
_WRITE_COMPAT: dict[str, tuple] = {
    "boolean": (T.BooleanType,),
    "bigint": _INTEGRAL + (T.TimestampType,),
    "double": _INTEGRAL + (T.DoubleType, T.FloatType, T.DecimalType),
    "string": (T.StringType,),
    "timestamp": (T.TimestampType,) + _INTEGRAL,
}


# EXPLAIN <table> data_type display, matching the reference's ValueType
# ToString (src/data/value/value_type/cast.rs:31-44)
_VALUETYPE_DISPLAY = {
    "boolean": "Bool",
    "bigint": "Int",
    "int": "Int",
    "smallint": "Int",
    "tinyint": "Int",
    "double": "Float",
    "float": "Float",
    "string": "Text",
    "timestamp": "Timestamp",
    "timestamp_ntz": "Timestamp",
    "variant": "Any",
}


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _names(src: str | None) -> list[str]:
    """The names a column list's source text holds, unquoted."""
    if src is None:
        return []
    return [dialect.unquote(c) for c in dialect._split_source(src, ",")]


def _as_view(df: DataFrame, name: str) -> None:
    """Register ``df`` as temp view ``name``.  Spark parses the name as
    SQL text, so it is quoted; ``dropTempView`` takes it as it is."""
    df.createOrReplaceTempView(_quote(name))


def _uq_key(cdef: ColumnDef) -> str:
    """SQL text of the equality key for UNIQUE checks: variant
    (declared-Any) columns are not comparable/groupable in Spark, but
    their JSON rendering is a faithful per-kind equality key, so
    Any-typed UNIQUE dedups on it.  The key is NULL exactly where the
    column is.

    Numeric kinds are normalized first: the reference's default
    ``implicit_float_conversion`` treats ``I64(1)`` and ``F64(1.0)`` as
    equal in ``validate_unique`` (value/mod.rs:159), while their JSON
    renderings ``1`` vs ``1.0`` differ — so integral-valued doubles and
    ints both key as the canonical integer string (within the f64 2^53
    exact-integer range).  The kind probe uses ``schema_of_variant`` (not
    a value cast) so a STRING variant ``'1'`` never collides with the
    number 1."""
    c = _quote(cdef.name)
    if cdef.type_str != "variant":
        return c
    kind = f"schema_of_variant({c})"
    big = f"try_variant_get({c}, '$', 'bigint')"
    dbl = f"try_variant_get({c}, '$', 'double')"
    floating = f"{kind} IN ('DOUBLE', 'FLOAT')"
    return (
        f"CASE WHEN {kind} IN ('BIGINT', 'INT', 'SMALLINT', 'TINYINT')"
        f" THEN CAST({big} AS STRING)"
        f" WHEN {floating} AND {dbl} = floor({dbl})"
        f" AND abs({dbl}) <= 9007199254740992D"
        f" THEN CAST(CAST({dbl} AS BIGINT) AS STRING)"
        f" WHEN {floating} THEN CAST({dbl} AS STRING)"
        f" ELSE to_json({c}) END"
    )


def _literal_counts(
    state: TableState,
    aligned: DataFrame,
    stated: dict[str, str],
    held: pa.Table | None = None,
) -> tuple[dict[str, int], dict[str, int]]:
    """The batch counts of a literal batch, read from the rows the driver
    holds, with no job: the row count ``n``, NOT NULL violations
    ``nn_<c>``, AUTO_INCREMENT NULLs ``ai_<c>``, non-NULL UNIQUE keys
    ``uk_<c>``, the least stated id above an AUTO_INCREMENT UNIQUE
    column's counter ``gt_<c>``, and per UNIQUE column the keys the batch
    repeats.

    ``stated`` maps a lower-cased column name to its stated name.  A
    column stated in ``held``, the Arrow table ``insert_vec`` built, is
    read there; an unstated column with no DEFAULT is NULL; every other
    checked column (all of them for an INSERT's VALUES) is collected
    from ``aligned``, a ``LocalRelation``, as its UNIQUE key or a marker
    that is NULL where the column is.  A TIMESTAMP key is collected as
    its microseconds since the epoch: PySpark returns a TIMESTAMP as a
    naive local-time ``datetime``, and two instants of a repeated
    daylight-saving hour would be one key."""
    import pyarrow as pa
    import pyarrow.compute as pc

    checked = [c for c in state.columns
               if c.unique or c.auto_increment or c.not_null]
    arrays, collect = {}, []
    for cdef in checked:
        s = stated.get(cdef.name.lower())
        if held is not None and s is not None and cdef.type_str != "variant":
            arrays[cdef.name] = held.column(s)
        elif s is None and (cdef.auto_increment or cdef.default is None):
            arrays[cdef.name] = None  # NULL in every row
        else:
            q = _quote(cdef.name)
            if not cdef.unique:
                key = f"nvl2({q}, true, NULL)"
            elif isinstance(state.schema[cdef.name].dataType,
                            T.TimestampType):
                key = f"unix_micros({q})"
            else:
                key = _uq_key(cdef)
            collect.append((cdef.name, key))
    if held is not None:
        n = held.num_rows
    if collect or held is None:
        rows = aligned.selectExpr(
            *[e for _, e in collect] or ["NULL"]
        ).collect()
        n = len(rows)
        for i, (name, _) in enumerate(collect):
            arrays[name] = pa.array([r[i] for r in rows])
    stats, dups = {"n": n}, {}
    for cdef in checked:
        arr = arrays[cdef.name]
        nulls = n if arr is None else arr.null_count
        if cdef.auto_increment:
            stats[f"ai_{cdef.name}"] = nulls
            if cdef.unique:
                start = state.auto_counter.get(cdef.name, 0)
                stats[f"gt_{cdef.name}"] = None if arr is None else pc.min(
                    pc.filter(arr, pc.greater(arr, start))
                ).as_py()
        elif cdef.not_null:
            stats[f"nn_{cdef.name}"] = nulls
        if cdef.unique:
            keys = stats[f"uk_{cdef.name}"] = n - nulls
            if keys > 1:
                if pa.types.is_floating(arr.type):
                    arr = pc.add(arr, 0.0)  # -0.0 keys as 0.0, as in Spark
                distinct = pc.count_distinct(arr, mode="only_valid")
                dups[cdef.name] = keys - distinct.as_py()
    return stats, dups


def _check_write_type(
    cdef: ColumnDef, incoming: T.DataType, ctx: str
) -> None:
    if isinstance(incoming, T.NullType):
        return
    if cdef.type_str == "variant":
        # reference Value::is: (ValueType::Any, _) => Ok(()) —
        # an Any column accepts every incoming type (value/mod.rs:240)
        return
    allowed = _WRITE_COMPAT.get(cdef.type_str)
    if allowed is None:  # adapter-inferred exotic type: no declared contract
        return
    if not isinstance(incoming, allowed):
        raise EngineError(
            f"incompatible data type for {ctx}.{cdef.name}:"
            f" {incoming.simpleString()} into {cdef.type_str}"
        )


class MultiSQLSession:
    """Session over a SparkSession + named storages (the reference's
    ``Glue``)."""

    def __init__(self, spark: SparkSession | None = None):
        # a handed-in session runs the engine's runtime confs too, as
        # load_tables does: both constructors plan with the same engine
        self.spark = (
            local_session("multisql_spark") if spark is None
            else tune_session(spark)
        )
        self.variables: dict[str, str] = {}
        self.tables: dict[str, TableState] = {}
        self.matviews: dict[str, str] = {}
        self.databases: dict[str, object] = {}

    # -- public API (reference src/glue/mod.rs:161-187) ---------------------

    def execute(self, sql: str) -> Payload:
        payloads = self.execute_many(sql)
        return payloads[-1] if payloads else Payload.success()

    def execute_many(self, sql: str) -> list[Payload]:
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.base import PySparkException

        out = []
        for stmt in filter(None, dialect._split_source(sql, ";")):
            try:
                out.append(self._execute_one(stmt))
            except (PySparkException, Py4JJavaError, ValueError) as exc:
                # surface Spark analysis/parse/runtime failures (ANSI cast
                # and datetime-parse errors included), JVM failures PySpark
                # does not convert, and dialect-rewrite rejections as engine
                # errors (the reference returns its own Error enum, not
                # panics); well-known Spark error classes map to the
                # matching typed family
                cond = (
                    exc.getCondition() or ""
                    if isinstance(exc, PySparkException) else ""
                )
                if "TABLE_OR_VIEW_NOT_FOUND" in cond:
                    raise TableNotFoundError(str(exc)) from exc
                if "UNRESOLVED_COLUMN" in cond or "MISSING_COLUMN" in cond:
                    raise ColumnNotFoundError(str(exc)) from exc
                raise EngineError(str(exc)) from exc
        return out

    def sql(self, sql: str) -> DataFrame:
        """Query path only — returns the lazy DataFrame."""
        rewritten = self._rewrite(sql, {
            name: _dtypes(state.schema) for name, state in self.tables.items()
        })
        self._resolve_jdbc_views(rewritten)
        return self.spark.sql(rewritten)

    def _resolve_jdbc_views(self, sql_text: str) -> None:
        """Register temp views for JDBC tables referenced as db__tbl.

        The reference reflects remote schemas per-table on demand
        (src/databases/odbc/base.rs fetch_schema); the Spark equivalent is
        a lazy ``spark.read.jdbc`` relation — the remote query runs per
        action with predicate pushdown, never materialized at attach."""
        for dname, db in self.databases.items():
            if db.kind != "jdbc":
                continue
            for m in re.finditer(
                rf"\b{re.escape(dname)}__(\w+)\b", sql_text, re.IGNORECASE
            ):
                self._jdbc_relation(db, m.group(1))

    def _jdbc_relation(self, db, tbl: str) -> DataFrame:
        """The lazy relation of jdbc table ``tbl``: read, cached in
        ``db.tables`` and registered as view ``db__tbl`` on first use."""
        if tbl not in db.tables:
            df = (
                self.spark.read.format("jdbc")
                .option("url", db.path)
                .option("dbtable", tbl)
                .load()
            )
            # quoted, so a schema-qualified `APP.rt` is one view name
            df.createOrReplaceTempView(f"`{db.name}__{tbl}`")
            db.tables[tbl] = df
        return db.tables[tbl]

    def _database(self, name: str):
        """The attached database called ``name`` (any case), or None."""
        return next(
            (db for dn, db in self.databases.items()
             if dn.lower() == name.lower()),
            None,
        )

    def _name(
        self, db: str | None, table: str
    ) -> tuple[str | None, SourceDatabase | None]:
        """The session's name for table ``[db.]table`` and the attached
        database that holds it: a table of the primary namespace (no
        database, or the reference's default ``main``) is named as
        written, a table of an attached database ``db__table``;
        ``(None, None)`` for a database that is not attached."""
        if db is None or db.lower() == "main":
            return table, None
        src = self._database(db)
        return (None, None) if src is None else (f"{src.name}__{table}", src)

    # -- SELECT-only converters (reference src/glue/select.rs:14-82) -------

    def _select_payload(self, query: str) -> Payload:
        p = self.execute(query)
        if p.kind != "Select":
            # reference ExecuteError::QueryNotSupported
            raise UnsupportedError("query not supported: expected SELECT")
        return p

    def select_json(self, query: str) -> str:
        return self._select_payload(query).as_json()

    def select_as_string(self, query: str) -> list[list[str]]:
        return self._select_payload(query).as_string()

    def select_as_csv(self, query: str) -> str:
        return self._select_payload(query).as_csv()

    def extend(self, database_name: str, database_path: str) -> bool:
        """Attach a storage by path, guessing the backend from the
        extension (reference Glue::try_extend_from_path,
        glue/mod.rs:108-129). Returns whether action was taken — False if
        the name is already attached."""
        if self._database(database_name) is not None:
            return False
        self._create_database(dialect.Statement(
            "CREATE DATABASE",
            parts={"database": database_name, "path": database_path},
        ))
        return True

    def reduce(self, database_name: str) -> bool:
        """Detach a database (reference Glue::reduce, glue/mod.rs:143-149).
        Returns whether action was taken."""
        return self._detach_database(database_name)

    def insert_vec(
        self, table: str, columns: list[str], rows: list[tuple]
    ) -> Payload:
        """Programmatic bulk insert (reference src/glue/mod.rs:190-248).
        The rows become an Arrow table in the named columns' types (a
        value that type cannot hold raises :class:`EngineError`), which
        the driver counts and the commit reads as a sized batch."""
        db, dot, tbl = table.partition(".")
        state = self._table(db, tbl) if dot else self._table(None, table)
        fields = []
        for c in columns:
            cdef = state.column(c)
            if cdef is None:
                raise ColumnNotFoundError(f"column not found: {c}")
            fields.append(T.StructField(c, state.schema[cdef.name].dataType))
        schema = T.StructType(fields)
        held = _arrow_batch(schema, rows)
        df = self.spark.createDataFrame(held, schema)
        return self._insert_df(state, df, columns, held=held)

    def register_udf(
        self, name: str, fn, return_type: str = "string", pandas: bool = False
    ) -> None:
        """Register a host-language scalar function usable in SQL.

        Beyond-reference: the reference's only extensibility point is the
        storage trait (SURVEY §2.10) — it has no SQL function surface at
        all. Here UDF registration is native Spark; ``pandas=True``
        registers an Arrow-vectorized pandas UDF (batched columnar
        transfer, ~10-100× the throughput of a row-at-a-time Python UDF
        — the only variant that belongs anywhere near a hot path).
        """
        if pandas:
            from pyspark.sql.functions import pandas_udf

            self.spark.udf.register(name, pandas_udf(fn, return_type))
        else:
            from pyspark.sql.functions import udf

            self.spark.udf.register(name, udf(fn, return_type))

    def register_udaf(self, name: str, fn, return_type: str) -> None:
        """Register a host-language aggregate (Series → scalar) usable in
        SQL GROUP BY — an Arrow-batched pandas aggregate UDF, so partials
        transfer columnar. Beyond-reference (SURVEY §2.10).

        The grouped-agg variant is selected by annotating ``fn`` with a
        real Series → scalar signature here, so callers don't depend on
        their module's (possibly stringified) type hints."""
        import inspect

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        first = next(iter(inspect.signature(fn).parameters))
        fn.__annotations__ = {first: pd.Series, "return": float}
        self.spark.udf.register(name, pandas_udf(fn, return_type))

    def register_udtf(self, name: str, cls) -> None:
        """Register a host-language table function (one row in, many rows
        out) callable in FROM position. ``cls`` is a class with an
        ``eval`` generator, already decorated with
        ``pyspark.sql.functions.udtf``. Beyond-reference (SURVEY §2.10)."""
        self.spark.udtf.register(name, cls)

    # -- internals ----------------------------------------------------------

    def _rewrite(self, sql: str, schema: dict | None = None) -> str:
        """``sql`` in Spark SQL.  ``schema``, ``{table: {col: type}}``,
        types its columns (reference labels of bare columns, static I64
        int division — DIVERGENCES #3/#21): a query's is the catalog, an
        UPDATE fragment's its table's columns under ``""`` (no FROM)."""
        return dialect.rewrite(
            sql,
            variables=self.variables,
            db_names=set(self.databases),
            int_division=True,
            schema=schema,
        )

    def _table(self, db: str | None, table: str) -> TableState:
        name, source = self._name(db, table)
        if source is not None and source.kind == "jdbc":
            # reference ODBC DBMut implements insert only
            # (src/databases/odbc/mutable.rs)
            raise EngineError("jdbc databases are insert-only")
        state = self.tables.get(name.lower()) if name is not None else None
        if state is None:
            raise TableNotFoundError(
                f"table not found: {f'{db}.{table}' if db else table}"
            )
        return state

    def _register(self, state: TableState) -> None:
        self.tables[state.name.lower()] = state
        _as_view(state.df, state.name)
        if state.source is not None:
            # the file's reader may type the rows it reads back anew
            state.df = state.source.write(
                self.spark, state.source_table, state.df
            )
            state.schema = state.df.schema
            _as_view(state.df, state.name)

    def _reshape(self, state: TableState, df: DataFrame) -> None:
        """ALTER TABLE's new shape of the table: ``df``, with its schema."""
        state.df, state.schema, state.ai_top = df, df.schema, {}
        self._register(state)

    def _commit(
        self,
        state: TableState,
        df: DataFrame,
        check: Callable[[DataFrame], None] | None = None,
    ) -> None:
        """Make ``df`` the table's new version in one pass over it: stored
        by :func:`_materialize`, or for an attached table written back by
        :meth:`SourceDatabase.write`.

        ``check(version)`` reads what that pass observed and raises to
        reject the statement.  With a check the version is materialized
        first (an attached table then writes back from that copy), so
        the check runs before ``state.df`` is swapped or the file written;
        a rejected version is unpersisted.  Without one an attached table
        is written back straight from ``df``, and the caller reads the
        counts observed on the write once this returns.  A failed write-back
        leaves ``state.df`` and its view as they were.

        The same pass observes each AUTO_INCREMENT UNIQUE column's largest
        value, which the table keeps (``TableState.ai_top``)."""
        tops = [c.name for c in state.columns
                if c.auto_increment and c.unique]
        if tops:
            top = Observation()
            df = df.observe(
                top, *[F.expr(f"max({_quote(c)})").alias(c) for c in tops]
            )
        if check is not None or state.source is None:
            version = _materialize(df)
            if check is not None:
                try:
                    check(version)
                except BaseException:
                    _release(version)
                    raise
            df = version
        prev, state.df = state.df, df
        try:
            self._register(state)
        except BaseException:
            state.df = prev
            _as_view(prev, state.name)
            raise
        if tops:
            state.ai_top = dict(top.get)

    def _execute_one(self, stmt: str) -> Payload:
        st = dialect.parse(stmt)
        if st is None:
            raise UnsupportedError(f"unsupported statement: {stmt[:60]}")
        if st.kind == "QUERY":
            return Payload.select(self.sql(stmt))
        handler = (self._HANDLERS.get(st.kind)
                   or self._HANDLERS[st.kind.split()[0]])
        return handler(self, st)

    # -- CREATE -------------------------------------------------------------

    def _create(self, st: dialect.Statement) -> Payload:
        # CREATE TABLE db.tbl targets an attached database (reference
        # create/table.rs resolves ComplexTableName.database)
        name, source = self._name(st.db, st.table)
        if name is None:
            raise EngineError(f"database not found: {st.db}")
        if source is not None and not source.creates_tables:
            raise EngineError(
                f"cannot create tables in a {source.kind} database"
            )
        source_table = st.table if source is not None else None
        if name.lower() in self.tables:
            if "IF NOT EXISTS" in st.flags:
                return Payload.success("Create")
            raise AlreadyExistsError(f"table exists: {name}")
        if "query" in st.parts:  # CREATE TABLE .. AS SELECT
            df = self.sql(st.parts["query"])
            columns = [
                ColumnDef(f.name, f.dataType.simpleString())
                for f in df.schema.fields
            ]
            state = TableState(
                name, columns, df, source=source, source_table=source_table
            )
            self._commit(state, df)
            return Payload.success("Create")
        columns = self._parse_columns(st.parts["columns"])
        schema = T.StructType(
            [
                T.StructField(c.name, _spark_type(c.type_str), not c.not_null)
                for c in columns
            ]
        )
        df = self.spark.createDataFrame(_arrow_batch(schema), schema)
        self._register(
            TableState(
                name, columns, df, source=source, source_table=source_table,
                ai_top={c.name: None for c in columns
                        if c.auto_increment and c.unique},
            )
        )
        return Payload.success("Create")

    def _parse_columns(self, src: str) -> list[ColumnDef]:
        """Parse `name TYPE [options]` column defs (reference
        src/data/column.rs:27-79).  Options are read from the column's
        depth-0 tokens, so a string literal never holds one; a DEFAULT
        expression is its source text up to the next option."""
        out = []
        for part in dialect._split_source(src, ","):
            if not part:
                continue
            (_, _, name), *options = dialect._top(dialect.tokenize(part))
            col = ColumnDef(name=dialect.unquote(name))
            words = [text.upper() for _, kind, text in options
                     if kind != "string"]
            pairs = list(zip([""] + words, words))
            # reference AlterError::UnsupportedColumnOption
            # (tests/ability/alter/table/create_table.rs CHECK case)
            if "CHECK" in words:
                raise UnsupportedError(
                    f"unsupported column option in {col.name}: CHECK"
                )
            ty = "UNSIGNED INT" if words[:2] == ["UNSIGNED", "INT"] else (
                words[0] if words else "")
            if ty not in _TYPE_MAP:
                # reference AlterError::UnsupportedDataType
                raise UnsupportedError(
                    f"unsupported data type in {col.name}: {ty or 'none'}"
                )
            col.type_str = _TYPE_MAP[ty]
            primary = ("PRIMARY", "KEY") in pairs
            # reference nullability (src/data/column.rs:36-38): columns are
            # NOT NULL unless an explicit bare NULL option is present
            col.not_null = primary or ("NOT", "NULL") in pairs or not any(
                w == "NULL" and p != "NOT" for p, w in pairs)
            col.unique = primary or "UNIQUE" in words
            col.auto_increment = (
                "AUTO_INCREMENT" in words or "AUTOINCREMENT" in words)
            if "DEFAULT" in words:
                found = dialect.match(_COLUMN_DEFAULT, part)
                col.default = found and found["default"]
            out.append(col)
        return out

    def _create_view(self, st: dialect.Statement) -> Payload:
        name, query = st.parts["view"], st.parts["query"]
        df = self.sql(query)
        _as_view(df, name)
        return Payload.success("CreateView")

    def _create_matview(self, st: dialect.Statement) -> Payload:
        """CREATE MATERIALIZED VIEW (beyond reference): the defining query
        is evaluated ONCE and pinned (_materialize), so readers scan the
        materialized result instead of re-running the plan — the batch
        face of a continuous aggregate (`stream_rollup_sink` is the
        streaming face).  `REFRESH MATERIALIZED VIEW` re-evaluates; reads
        between refreshes see the stale snapshot, which a test pins."""
        name, query = st.parts["view"], st.parts["query"]
        if name.lower() in self.matviews and "OR REPLACE" not in st.flags:
            raise AlreadyExistsError(f"materialized view exists: {name}")
        df = _materialize(self.sql(query))
        _as_view(df, name)
        self.matviews[name.lower()] = query
        return Payload.success("CreateMaterializedView")

    def _refresh_matview(self, st: dialect.Statement) -> Payload:
        name = st.parts["view"]
        query = self.matviews.get(name.lower())
        if query is None:
            raise TableNotFoundError(f"materialized view not found: {name}")
        df = _materialize(self.sql(query))
        _as_view(df, name)
        return Payload.success("RefreshMaterializedView")

    def _create_index(self, st: dialect.Statement) -> Payload:
        """CREATE [UNIQUE] INDEX — metadata no-op: parquet min/max pushdown
        and partition pruning replace the reference's IndexFilter machinery
        (SURVEY §4)."""
        state = self._table(st.db, st.table)
        col, unique = st.parts["column"], "UNIQUE" in st.flags
        state.indexes[st.parts["index"]] = {"column": col, "unique": unique}
        if unique:
            cdef = state.column(col)
            if cdef:
                cdef.unique = True
        return Payload.success("CreateIndex")

    def _create_database(self, st: dialect.Statement) -> Payload:
        name, path = st.parts["database"], st.parts["path"]
        if self._database(name) is not None:
            # reference create/database error shape
            # (tests/ability/alter/database/create_database.rs)
            if "IF NOT EXISTS" in st.flags:
                return Payload.success("CreateDatabase")
            raise AlreadyExistsError(f"database exists: {name}")
        db = attach_database(self.spark, name, path)
        self.databases[name] = db
        # every table read at attach (a jdbc database reads none) is
        # writable (reference DBMut): DML on db.table routes through the
        # managed-table pipeline and writes back to the table's file
        for tname, df in db.tables.items():
            schema = df.schema
            self.tables[f"{name}__{tname}".lower()] = TableState(
                name=f"{name}__{tname}",
                columns=[ColumnDef(name=f, type_str=t)
                         for f, t in _dtypes(schema).items()],
                df=df,
                source=db,
                source_table=tname,
                schema=schema,
            )
        return Payload.success("CreateDatabase")

    # -- INSERT (reference src/executor/alter_row/insert.rs) ----------------

    def _insert(self, st: dialect.Statement) -> Payload:
        overwrite = "OVERWRITE" in st.flags
        jdbc = self._name(st.db, st.table)[1]
        if jdbc is None or jdbc.kind != "jdbc":
            state = self._table(st.db, st.table)
            declared = [c.name for c in state.columns]
        elif overwrite:
            raise EngineError("jdbc databases are insert-only (append)")
        else:
            # a JDBC target's default column list is the remote table's
            state = None
            remote = self._jdbc_relation(jdbc, st.table)
            declared = remote.columns
        stated = _names(st.parts.get("columns")) or declared
        if "rows" in st.parts:
            alias_cols = ", ".join(map(_quote, stated))
            body = self._rewrite(st.parts["rows"])
            # Declared-Any targets: Spark's VALUES unifies mixed literal
            # types to a common type (string), which would erase per-row
            # kinds before the variant conversion — wrap each Any-bound
            # expression in CAST(… AS VARIANT) so every row keeps its own
            # type (reference ValueType::Any, value/mod.rs:240)
            variant_pos = [
                i
                for i, s in enumerate(stated)
                if state is not None
                and (c := state.column(s)) is not None
                and c.type_str == "variant"
            ]
            if variant_pos:
                body = self._wrap_values_variant(body, variant_pos)
            df = self.spark.sql(
                f"SELECT * FROM VALUES {body} AS __v({alias_cols})"
            )
        else:
            df = self.sql(st.parts["query"])
            df = df.toDF(*stated)
        if state is None:
            return self._insert_jdbc(jdbc, st.table, remote, df, stated)
        # OVERWRITE replaces the data only: schema, constraints and the
        # auto-increment counter keep (TRUNCATE is the counter reset)
        return self._insert_df(
            state, df, stated, existing=state.df.limit(0) if overwrite else None
        )

    def _insert_jdbc(
        self, db, tbl: str, remote: DataFrame, df: DataFrame,
        stated: list[str],
    ) -> Payload:
        """JDBC (ODBC-equivalent) sink: batch append through the remote
        driver, mirroring the reference's insert-only ODBC DBMut
        (src/databases/odbc/mutable.rs — update/delete are unimplemented
        there too).  Rows are written in driver-side batches by Spark's
        JDBC writer (numPartitions × batchsize inserts)."""
        # align to the reflected remote schema; unstated columns get NULL
        stated_lower = [s.lower() for s in stated]
        cols = []
        for f in remote.schema.fields:
            if f.name.lower() in stated_lower:
                src_col = F.col(stated[stated_lower.index(f.name.lower())])
            else:
                src_col = F.lit(None)
            cols.append(src_col.cast(f.dataType).alias(f.name))
        aligned = df.select(*cols)
        n = aligned.count()
        (
            aligned.write.format("jdbc")
            .option("url", db.path)
            .option("dbtable", tbl)
            .mode("append")
            .save()
        )
        return Payload.affected("Insert", n)

    def _insert_df(
        self,
        state: TableState,
        incoming: DataFrame,
        stated: list[str],
        existing: DataFrame | None = None,
        check: Callable[[DataFrame], None] | None = None,
        held: pa.Table | None = None,
    ) -> Payload:
        """Validation pipeline per reference validate.rs:46-99: position
        mapping → defaults → AUTO_INCREMENT → type coercion → NOT NULL →
        UNIQUE → append to ``existing`` (default: the table's rows).

        The batch counts (row count, NULL counts, AUTO_INCREMENT fill
        counts, UNIQUE key counts and the keys repeated within the batch)
        come from one of two places; the checks, their order and the
        commit are shared.  A literal batch, ``held`` by ``insert_vec`` as
        an Arrow table or an INSERT's VALUES that the optimizer turns into
        a ``LocalRelation``, is counted on the driver with no job
        (:func:`_literal_counts`) and is never stored: the commit is its
        only stored copy.  Any other batch (``INSERT … SELECT``, MERGE's
        inserted rows) is materialized once, observing its counts; its
        duplicate count, a DISTINCT count, runs only for a UNIQUE column
        that carries more than one key.

        The commit pass builds the new version and observes how many rows
        of ``existing`` an anti join against the batch's keys drops; that
        check runs before the swap (:meth:`_commit`), after the caller's
        ``check`` of what ``existing``'s own plan observed on the same
        pass."""
        if existing is None:
            existing = state.df
        # stated columns must exist (reference ValidateError::ColumnNotFound,
        # validate.rs:30-44) and carry compatible types (value/mod.rs:232-260)
        for s, field in zip(stated, incoming.schema.fields):
            cdef = state.column(s)
            if cdef is None:
                raise ColumnNotFoundError(f"column not found: {s}")
            _check_write_type(cdef, field.dataType, state.name)
        named = {}
        for s in stated:
            named.setdefault(s.lower(), s)
        exprs = []
        for cdef in state.columns:
            s = named.get(cdef.name.lower())
            if s is not None:
                src = _quote(s)
            elif cdef.default is not None and not cdef.auto_increment:
                src = f"({self._rewrite(cdef.default)})"
            else:
                src = "NULL"
            dtype = state.schema[cdef.name].dataType.simpleString()
            exprs.append(f"CAST({src} AS {dtype}) AS {_quote(cdef.name)}")
        aligned = incoming.selectExpr(*exprs)
        stored = dups = None
        if held is not None or _is_literal(aligned):
            stats, dups = _literal_counts(state, aligned, named, held)
        else:
            # one observed pass over the batch: row count, NULL counts (NOT
            # NULL, and the AUTO_INCREMENT fill) and non-NULL key counts
            # (UNIQUE; NULLs never collide, reference validate_unique.rs
            # skips them)
            metrics = ["count(1) AS n"]
            for cdef in state.columns:
                q = _quote(cdef.name)
                if cdef.auto_increment:
                    metrics.append(f"count_if({q} IS NULL)"
                                   f" AS {_quote('ai_' + cdef.name)}")
                    if cdef.unique:
                        start = state.auto_counter.get(cdef.name, 0)
                        metrics.append(f"min(CASE WHEN {q} > {start} THEN"
                                       f" {q} END) AS"
                                       f" {_quote('gt_' + cdef.name)}")
                elif cdef.not_null:
                    metrics.append(f"count_if({q} IS NULL)"
                                   f" AS {_quote('nn_' + cdef.name)}")
                if cdef.unique:
                    metrics.append(f"count({_uq_key(cdef)})"
                                   f" AS {_quote('uk_' + cdef.name)}")
            batch = Observation()
            aligned = stored = _materialize(
                aligned.observe(batch, *map(F.expr, metrics))
            )
            stats = batch.get
        try:
            n_in = stats["n"]
            for cdef in state.columns:
                if cdef.not_null and not cdef.auto_increment \
                        and stats[f"nn_{cdef.name}"]:
                    raise NotNullViolation(
                        f"NOT NULL violated for {state.name}.{cdef.name}"
                    )
            # AUTO_INCREMENT ids are assigned before the UNIQUE checks, so a
            # filled id is checked as a stated one is; the counters advance
            # only once the commit succeeded, so a rejected insert doesn't
            # burn counter values
            counters, unsure = {}, []
            for cdef in state.columns:
                if cdef.auto_increment:
                    start = state.auto_counter.get(cdef.name, 0)
                    # only NULL ids are filled and only they advance the
                    # counter — explicit values don't consume it (reference
                    # sled/auto_increment.rs semantics, see the corpus test:
                    # explicit 6 then auto gives 5, then 6 again)
                    n_fill = stats[f"ai_{cdef.name}"]
                    dtype = state.schema[cdef.name].dataType.simpleString()
                    null = f"{_quote(cdef.name)} IS NULL"
                    # dense ids in row order; a batch with no explicit ids
                    # is filled in place, as a union would add a partition
                    if n_fill and n_fill == n_in:
                        aligned = _in_order_ids(aligned, cdef.name, start,
                                                dtype)
                    elif n_fill:
                        aligned = aligned.filter(f"NOT ({null})").unionByName(
                            _in_order_ids(aligned.filter(null), cdef.name,
                                          start, dtype)
                        )
                    counters[cdef.name] = start + n_fill
                    if not (n_fill and cdef.unique):
                        continue
                    # the filled ids start+1 .. start+n_fill repeat a stated
                    # id of the batch if the least one above start is in
                    # range, and may repeat an existing id unless the
                    # table's largest is known to be at most start
                    least = stats[f"gt_{cdef.name}"]
                    if least is not None and least <= start + n_fill:
                        raise UniqueViolation(
                            f"UNIQUE violated for {state.name}.{cdef.name}"
                        )
                    top = state.ai_top.get(cdef.name, start + 1)
                    if top is not None and top > start:
                        unsure.append(cdef.name)
            keyed = [
                c for c in state.columns
                if c.unique and (stats[f"uk_{c.name}"] or c.name in unsure)
            ]
            # duplicates within the batch, only where a column carries more
            # than one key
            multi = [c for c in keyed if stats[f"uk_{c.name}"] > 1]
            if multi and dups is None:
                # over a stored batch: a DISTINCT count, which cannot be
                # observed
                dups = dict(zip([c.name for c in multi], stored.selectExpr(*[
                    f"count({_uq_key(c)}) - count(DISTINCT {_uq_key(c)})"
                    for c in multi
                ]).first()))
            for cdef in multi:
                if dups[cdef.name]:
                    raise UniqueViolation(
                        f"UNIQUE violated for {state.name}.{cdef.name}"
                    )

            # collisions with existing rows, counted on the commit pass: the
            # existing rows anti-join each UNIQUE column's batch keys, and
            # the row count is observed below every anti join and above the
            # last, so a row dropped is a collision.  An anti join is
            # estimated at its left side's size, so the version's estimate
            # stays the existing rows' plus the batch's.  While the keys are
            # under the broadcast threshold, the existing rows stream past
            # them and keep their order
            probe, counted = existing, []
            for i, cdef in enumerate(keyed):
                k = f"__uq_{i}"
                keys = aligned.selectExpr(f"{_uq_key(cdef)} AS {k}").filter(
                    f"{k} IS NOT NULL"
                )
                counted.append(Observation())
                probe = probe.observe(
                    counted[-1], F.expr("count(1) AS n")
                ).join(keys, F.expr(f"{_uq_key(cdef)} = {k}"), "left_anti")
            if keyed:
                counted.append(Observation())
                existing = probe.observe(counted[-1], F.expr("count(1) AS n"))

            def check_all(version: DataFrame) -> None:
                if check is not None:
                    check(version)
                n = [o.get["n"] for o in counted]
                for cdef, before, after in zip(keyed, n, n[1:]):
                    if before != after:
                        raise UniqueViolation(
                            f"UNIQUE violated for {state.name}.{cdef.name}"
                        )

            self._commit(state, existing.unionByName(aligned),
                         check_all if check or keyed else None)
            state.auto_counter.update(counters)
            return Payload.affected("Insert", n_in)
        finally:
            # the version (or the file) holds the batch's rows now, and a
            # rejected batch is not needed either
            if stored is not None:
                _release(stored)

    # -- UPDATE / DELETE / TRUNCATE ----------------------------------------

    def _update(self, st: dialect.Statement) -> Payload:
        """UPDATE … SET … [WHERE …]: the table's rows with the predicate
        as the ``__hit`` column, through :meth:`_assign`, committed in one
        pass that observes the updated-row count and the checks."""
        state = self._table(st.db, st.table)
        where = st.parts.get("where")
        cond = (
            F.expr(self._rewrite(where, {"": _dtypes(state.schema)}))
            if where else F.lit(True)
        )
        # the predicate is evaluated once per row, as a column that the
        # CASE projection and the observed count share
        rows = state.df.alias(state.name).select(
            "*", F.coalesce(cond, F.lit(False)).alias("__hit")
        )
        new, seen, check = self._assign(
            state, rows, state.name, st.parts["sets"]
        )
        self._commit(state, new.drop("__hit"), check)
        return Payload.affected("Update", seen.get["n"])

    def _assign(
        self,
        state: TableState,
        rows: DataFrame,
        alias: str,
        sets_src: str | None,
    ) -> tuple[DataFrame, Observation, Callable[[DataFrame], None] | None]:
        """Apply the ``SET`` list ``sets_src`` (UPDATE's, or a matched
        MERGE's) to the rows of ``rows`` whose boolean ``__hit`` is true.
        ``rows`` carries the table's columns under ``alias``.

        Every assignment is resolved and type-checked before any job
        runs (reference update.rs runs Value::is / validate_null per
        row).  Returns the table's columns as one CASE projection plus
        ``__hit``, observed on the pass that computes it: ``n`` hit rows,
        ``rows`` rows, the NULL counts of assigned NOT NULL columns and
        the fractional counts below; then the ``check(version)`` for
        :meth:`_commit`, or None when no assignment can be rejected.  The
        DISTINCT count of an assigned UNIQUE column runs over the stored
        version, only when a row was hit."""
        assignments = {}
        for part in dialect._split_source(sets_src, ",") if sets_src else ():
            # the column, then the expression, whose own `=` it rejoins
            col, *expr = dialect._split_source(part, "=")
            col = col.lower()
            if col.startswith(alias.lower() + "."):
                col = col[len(alias) + 1:]
            col = dialect.unquote(col)
            if state.column(col) is None:
                raise ColumnNotFoundError(f"column not found: {col}")
            assignments[col] = F.expr(
                self._rewrite(" = ".join(expr), {"": _dtypes(state.schema)})
            )
        # every assigned expression's type, from one analysis of them all
        types = rows.limit(0).select(*[
            e.alias(f"_p{i}") for i, e in enumerate(assignments.values())
        ]).schema if assignments else []
        hit = F.col("__hit")
        fractional = {}  # flag column → (its value, the error it raises)
        for (col, expr), typed in zip(assignments.items(), types):
            cdef = state.column(col)
            ptype = typed.dataType
            try:
                _check_write_type(cdef, ptype, state.name)
            except EngineError as err:
                # Reference int `/` int stays I64 (binary.rs:66-92), but the
                # dialect's runtime-dispatch division CASE is statically
                # DOUBLE-typed.  Accept a fractional-typed assignment into an
                # integral column when every assigned value is integral
                # (DIVERGENCES: `SET id = 3.0` is likewise accepted).
                if cdef.type_str != "bigint" or not isinstance(
                    ptype, (T.DoubleType, T.FloatType, T.DecimalType)
                ):
                    raise
                fractional[f"__frac{len(fractional)}"] = (
                    hit & expr.isNotNull() & (expr != F.floor(expr)), err
                )
        new_cols = []
        for cdef in state.columns:
            old = F.col(f"{alias}.{cdef.name}")
            dtype = state.schema[cdef.name].dataType
            assigned = assignments.get(cdef.name.lower())
            if assigned is None:
                new_cols.append(old.alias(cdef.name))
                continue
            if cdef.type_str == "variant":
                # Any column: the CASE branches must agree in type, so the
                # assigned expression converts to variant FIRST — each
                # updated row keeps the new value's own kind
                assigned = assigned.cast(dtype)
            new_cols.append(
                F.when(hit, assigned).otherwise(old).cast(dtype)
                .alias(cdef.name)
            )
        assigned_cols = [
            c for c in state.columns if c.name.lower() in assignments
        ]
        metrics = (
            [F.count_if(hit).alias("n"), F.count(F.lit(1)).alias("rows")]
            + [F.count_if(F.col(c.name).isNull()).alias(f"nn_{c.name}")
               for c in assigned_cols if c.not_null]
            + [F.count_if(f).alias(f) for f in fractional]
        )
        seen = Observation()
        new = (
            rows.select(
                *new_cols, hit,
                *[flag.alias(f) for f, (flag, _) in fractional.items()],
            )
            .observe(seen, *metrics)
            .drop(*fractional)
        )

        def check(version: DataFrame) -> None:
            got = seen.get
            for f, (_, err) in fractional.items():
                if got[f]:
                    raise err
            for cdef in assigned_cols:
                if cdef.not_null and got[f"nn_{cdef.name}"]:
                    raise NotNullViolation(
                        f"NOT NULL violated for {state.name}.{cdef.name}"
                    )
                key = _uq_key(cdef)
                if cdef.unique and got["n"] and version.selectExpr(
                    f"count({key}) - count(DISTINCT {key})"
                ).first()[0]:
                    raise UniqueViolation(
                        f"UNIQUE violated for {state.name}.{cdef.name}"
                    )

        checked = fractional or any(
            c.not_null or c.unique for c in assigned_cols
        )
        return new, seen, check if checked else None

    @staticmethod
    def _wrap_values_variant(body: str, positions: list[int]) -> str:
        """Rewrite a VALUES body ``(e, …), (e, …)`` wrapping the
        expressions at ``positions`` in CAST(… AS VARIANT)."""
        out_tuples = []
        for t in dialect._split_source(body, ","):
            if not (t.startswith("(") and t.endswith(")")):
                out_tuples.append(t)
                continue
            exprs = dialect._split_source(t[1:-1], ",")
            for p in positions:
                if p < len(exprs):
                    exprs[p] = f"CAST(({exprs[p]}) AS VARIANT)"
            out_tuples.append("(" + ", ".join(exprs) + ")")
        return ", ".join(out_tuples)

    def _merge(self, st: dialect.Statement) -> Payload:
        """MERGE INTO (upsert) — beyond-reference DML the ingestion
        pipelines need (dedup upserts, dimension refresh):

        ``MERGE INTO t [AS a] USING (<subquery>|table) [AS b] ON cond
        WHEN MATCHED THEN UPDATE SET c = expr, ... | DELETE
        WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (exprs)``

        UPDATE or DELETE over a join, plus INSERT: the target left-joins
        the source with ``matched`` as the ``__hit`` column, and the
        matched branch is :meth:`_assign` (UPDATE SET) or a filter on
        ``~__hit`` (DELETE).  The source rows the anti join leaves go
        through :meth:`_insert_df`, appended to the matched-applied rows,
        so the statement commits once.  That pass observes the target's
        row count below the join and the joined row count above it: a
        left join yields more rows than the target iff some target row
        matched several source rows, which raises, as the SQL standard
        requires.  The affected count is the rows updated, deleted or
        inserted.
        """
        if "query" in st.parts:
            src_df, salias = self.sql(st.parts["query"]), "s"
        else:
            salias = st.parts["source_table"]
            src_df = self._table(st.parts.get("source_db"), salias).df
        salias = st.parts.get("source_alias", salias)
        upd_sets = st.parts.get("sets")
        matched_delete = "DELETE" in st.flags
        inserts = "values" in st.parts
        if upd_sets is None and not matched_delete and not inserts:
            raise EngineError("MERGE: no WHEN clause")
        state = self._table(st.db, st.table)
        # default alias = the resolved internal name: the dialect rewrites
        # dotted refs (`db.t.col` -> `db__t.col`), so aliasing the target
        # the same way keeps qualified ON/SET references resolvable
        talias = st.parts.get("alias", state.name)
        target = Observation()
        t = state.df.observe(target, F.count(F.lit(1)).alias("n"))
        s = src_df.withColumn("__m", F.lit(1)).alias(salias)
        cond = F.expr(self._rewrite(st.parts["on"]))
        rows = t.alias(talias).join(s, cond, "left").select(
            "*", F.col(f"{salias}.__m").isNotNull().alias("__hit")
        )
        new, seen, assign_check = self._assign(state, rows, talias, upd_sets)
        if matched_delete:
            new = new.filter(~F.col("__hit"))
        candidate = new.drop("__hit")

        def check(version: DataFrame) -> None:
            if seen.get["rows"] > target.get["n"]:
                raise EngineError(
                    "MERGE: a target row matches multiple source rows"
                )
            if assign_check is not None:
                assign_check(version)

        def done(n_inserted: int) -> Payload:
            hit = seen.get["n"]
            if state.source is None:
                # the left join is estimated at the product of the target's
                # and the source's sizes, which would compound on every
                # MERGE; the version holds the target's rows, less the
                # deleted, plus the inserted
                rows = seen.get["rows"] - (hit if matched_delete else 0)
                state.df = _sized(state.df, rows + n_inserted)
                _as_view(state.df, state.name)
            matched = upd_sets is not None or matched_delete
            return Payload.affected(
                "Merge", (hit if matched else 0) + n_inserted
            )

        if not inserts:
            self._commit(state, candidate, check)
            return done(0)

        stated = _names(st.parts.get("columns")) or [
            c.name for c in state.columns
        ]
        exprs = dialect._split_source(st.parts["values"], ",")
        if len(exprs) != len(stated):
            raise EngineError("MERGE INSERT: column/value count mismatch")
        anti = src_df.alias(salias).join(
            state.df.alias(talias), cond, "left_anti"
        )
        ins_df = anti.select(
            *[
                F.expr(self._rewrite(e)).alias(c)
                for c, e in zip(stated, exprs)
            ]
        )
        # one commit for both branches: the inserted rows are validated
        # against, and appended to, the target with the matched branch
        # applied, so a rejected statement leaves the table unchanged
        return done(self._insert_df(
            state, ins_df, stated, existing=candidate, check=check
        ).count)

    def _delete(self, st: dialect.Statement) -> Payload:
        state = self._table(st.db, st.table)
        where = st.parts.get("where")
        cond = (
            F.coalesce(F.expr(self._rewrite(where)), F.lit(False))
            if where else F.lit(True)
        )
        # the deleted count is observed on the commit pass.  The predicate
        # is a column projected below the observation and filtered above
        # it: a plain filter on a WHERE that folds to a constant (1 = 1)
        # is pruned by Catalyst, and the observation with it
        seen = Observation()
        kept = (
            state.df.select("*", cond.alias("__hit"))
            .observe(seen, F.count_if("__hit").alias("n"))
            .filter(~F.col("__hit"))
            .drop("__hit")
        )
        self._commit(state, kept)
        return Payload.affected("Delete", seen.get["n"])

    def _truncate(self, st: dialect.Statement) -> Payload:
        state = self._table(st.db, st.table)
        self._commit(state, state.df.limit(0))
        state.auto_counter = {}
        return Payload.success("TruncateTable")

    def _drop(self, st: dialect.Statement) -> Payload:
        if_exists = "IF EXISTS" in st.flags
        if st.kind == "DROP TABLE":
            name, source = self._name(st.db, st.table)
            # an attached database's tables go only with the database
            if source is not None or name is None \
                    or name.lower() not in self.tables:
                if not if_exists:
                    raise TableNotFoundError(f"table not found: {st.name}")
                return Payload.success("DropTable")
            self.tables.pop(name.lower())
            self.spark.catalog.dropTempView(name)
            return Payload.success("DropTable")
        if st.kind == "DROP MATERIALIZED VIEW":
            name = st.parts["view"]
            if name.lower() not in self.matviews and not if_exists:
                raise TableNotFoundError(f"materialized view not found: {name}")
            self.matviews.pop(name.lower(), None)
            self.spark.catalog.dropTempView(name)
            return Payload.success("DropMaterializedView")
        if st.kind == "DROP VIEW":
            self.spark.catalog.dropTempView(st.parts["view"])
            return Payload.success("DropView")
        if st.kind == "DROP DATABASE":
            self._detach_database(st.parts["database"])
            return Payload.success("DropDatabase")
        return Payload.success("DropIndex")

    def _detach_database(self, name: str) -> bool:
        """Remove an attached database and every table state / temp view
        registered under it (reference Glue::reduce, glue/mod.rs:143-149)."""
        db = self._database(name)
        if db is None:
            return False
        self.databases.pop(db.name)
        prefix = f"{db.name.lower()}__"
        for key in [k for k in self.tables if k.startswith(prefix)]:
            self.spark.catalog.dropTempView(self.tables.pop(key).name)
        return True

    # -- ALTER TABLE (reference src/executor/alter_table/) ------------------

    def _alter(self, st: dialect.Statement) -> Payload:
        state = self._table(st.db, st.table)
        if st.kind == "ALTER TABLE RENAME":
            self.tables.pop(state.name.lower())
            self.spark.catalog.dropTempView(state.name)
            state.name = st.parts["new"]
            self._register(state)
            return Payload.success("AlterTable")
        if st.kind == "ALTER TABLE RENAME COLUMN":
            old, new = st.parts["column"], st.parts["new"]
            cdef = state.column(old)
            if not cdef:
                raise ColumnNotFoundError(f"column not found: {old}")
            cdef.name = new
            self._reshape(state, state.df.withColumnRenamed(old, new))
            return Payload.success("AlterTable")
        if st.kind == "ALTER TABLE ADD COLUMN":
            cdef, *more = self._parse_columns(st.parts["columns"])
            if more:
                raise UnsupportedError("ALTER TABLE adds one column")
            # reference AlterTableError::AddingColumnAlreadyExists
            if state.column(cdef.name) is not None:
                raise AlreadyExistsError(f"column already exists: {cdef.name}")
            # reference AlterTableError::DefaultValueRequired: a NOT NULL
            # column added to a non-empty table needs a DEFAULT
            if (
                cdef.default is None
                and cdef.not_null
                and not cdef.auto_increment
                and state.df.count() > 0
            ):
                raise EngineError(
                    f"default value required to add column {cdef.name}"
                )
            default = (
                F.expr(self._rewrite(cdef.default))
                if cdef.default is not None
                else F.lit(None)
            )
            state.columns.append(cdef)
            self._reshape(state, state.df.withColumn(
                cdef.name, default.cast(_spark_type(cdef.type_str))
            ))
            return Payload.success("AlterTable")
        if st.kind == "ALTER TABLE DROP COLUMN":
            col = st.parts["column"]
            if state.column(col) is None:
                if "IF EXISTS" in st.flags:
                    return Payload.success("AlterTable")
                # reference AlterTableError::DroppingColumnNotFound
                raise ColumnNotFoundError(f"column not found: {col}")
            state.columns = [
                c for c in state.columns if c.name.lower() != col.lower()
            ]
            self._reshape(state, state.df.drop(col))
            return Payload.success("AlterTable")
        raise UnsupportedError(
            f"unsupported ALTER action: {st.parts['action'][:60]}"
        )

    # -- SET / EXPLAIN / EXECUTE FILE ---------------------------------------

    def _set_variable(self, st: dialect.Statement) -> Payload:
        name = st.parts["variable"].lstrip("@$").lower()
        self.variables[name] = st.parts["value"]
        return Payload.success("SetVariable")

    def _explain(self, st: dialect.Statement) -> Payload:
        """Metadata introspection, not query plans (reference
        src/executor/other/explain.rs:6-89): ``ALL`` lists the databases,
        ``ALL_TABLE`` every table, ``main`` or an attached database's
        name its tables, and a table its columns.  SHOW and DESCRIBE are
        beyond-reference sugar over it, so host code ported from
        conventional SQL tooling works unchanged."""
        if "query" in st.parts:
            from multisql_spark.plans import formatted_plan

            df = self.sql(st.parts["query"])
            if "ANALYZE" in st.flags:
                # beyond-reference: EXPLAIN ANALYZE <query> executes the
                # query and returns the final (AQE-resolved) physical plan
                # with runtime metrics — what ran, not what was planned
                df.collect()
                plan = df._jdf.queryExecution().executedPlan().toString()
            else:
                # beyond-reference: EXPLAIN <query> returns the Spark
                # physical plan (the reference has no plan introspection)
                plan = formatted_plan(df)
            rows = [(line,) for line in plan.splitlines() if line.strip()]
            return Payload(kind="Select", labels=["plan"], rows=rows)
        db, target = st.db, st.table or (
            "main" if st.kind == "SHOW TABLES" else "ALL")
        if db is None and target.upper() == "ALL":
            # the managed (temp-view) store is the reference's default
            # database, named "main" (tests/databases/sled.rs Glue::new)
            rows = [("main",)] + [(d,) for d in sorted(self.databases)]
            return Payload(kind="Select", labels=["database"], rows=rows)
        if db is None and target.upper() == "ALL_TABLE":
            rows = [
                ("main", t) for t in sorted(self.tables) if "__" not in t
            ]
            for db in sorted(self.databases):
                rows += [
                    (db, t)
                    for t in sorted(self.databases[db].table_names())
                ]
            return Payload(
                kind="Select", labels=["database", "table"], rows=rows
            )
        name, source = self._name(db, target)
        tl = (name or "").lower()
        if db is None and tl == "main" and tl not in self.tables:
            rows = [(t,) for t in sorted(self.tables) if "__" not in t]
            return Payload(kind="Select", labels=["table"], rows=rows)
        if source is not None and source.kind == "jdbc":
            # EXPLAIN db.table (reference explain.rs:9-12 2-element name):
            # a jdbc table reflects the remote schema
            columns = self._jdbc_relation(source, target).dtypes
        elif tl in self.tables:
            columns = [(c.name, c.type_str) for c in self.tables[tl].columns]
        elif db is None and target in self.databases:
            adapter = self.databases[target]
            rows = [(t,) for t in sorted(adapter.table_names())]
            return Payload(kind="Select", labels=["table"], rows=rows)
        else:
            raise EngineError(
                f"EXPLAIN target not found: {st.name or target}"
            )
        # reference ValueType display names (value_type/cast.rs:31-44)
        rows = [(c, _VALUETYPE_DISPLAY.get(t, t)) for c, t in columns]
        return Payload(kind="Select", labels=["column", "data_type"], rows=rows)

    def _execute_file(self, st: dialect.Statement) -> Payload:
        with open(st.parts["path"]) as fh:
            payloads = self.execute_many(fh.read())
        return payloads[-1] if payloads else Payload.success()

    def _export_database(self, st: dialect.Statement) -> Payload:
        """EXPORT DATABASE TO '<dir>' (beyond ref): dump every managed
        table as parquet plus a schema manifest (column options and
        auto-increment counters), so the session's managed-table state
        survives a restart / ships to another cluster.  Attached-db
        tables are EXCLUDED by design — they already live in their
        backing files (parquet/csv/xlsx/jdbc) and re-attach via CREATE
        DATABASE LOCATION.  One directory per table — at scale each
        table export is a parallel parquet write."""
        import json as _json

        root = st.parts["path"]
        os.makedirs(root, exist_ok=True)
        manifest = {}
        n = 0
        for name, state in self.tables.items():
            # Attached-db shadow entries are identified structurally
            # (they carry their source database), never by a "__" name
            # substring — a managed table legitimately named a__b must
            # export too (ADVICE r2 #3).
            if state.source is not None:
                continue
            state.df.write.mode("overwrite").parquet(
                os.path.join(root, name)
            )
            manifest[name] = {
                "columns": [
                    {
                        "name": c.name,
                        "type": c.type_str,
                        "not_null": c.not_null,
                        "unique": c.unique,
                        "default": c.default,
                        "auto_increment": c.auto_increment,
                    }
                    for c in state.columns
                ],
                "auto_counter": state.auto_counter,
            }
            n += 1
        with open(os.path.join(root, "_manifest.json"), "w") as fh:
            _json.dump(manifest, fh, indent=1, sort_keys=True)
        return Payload(kind="Select", labels=["exported"], rows=[(n,)])

    def _import_database(self, st: dialect.Statement) -> Payload:
        """IMPORT DATABASE FROM '<dir>': restore every table exported by
        EXPORT DATABASE — schema options, auto-increment counters and
        rows — into the current session (existing same-named tables are
        replaced)."""
        import json as _json

        root = st.parts["path"]
        mpath = os.path.join(root, "_manifest.json")
        if not os.path.exists(mpath):
            raise EngineError(f"no database manifest at {root}")
        with open(mpath) as fh:
            manifest = _json.load(fh)
        for name, meta in sorted(manifest.items()):
            df = self.spark.read.parquet(os.path.join(root, name))
            cols = [
                ColumnDef(
                    name=c["name"],
                    type_str=c["type"],
                    not_null=c["not_null"],
                    unique=c["unique"],
                    default=c["default"],
                    auto_increment=c["auto_increment"],
                )
                for c in meta["columns"]
            ]
            df = _materialize(df)
            _as_view(df, name)
            self.tables[name] = TableState(
                name=name,
                columns=cols,
                df=df,
                auto_counter={
                    k: int(v) for k, v in meta["auto_counter"].items()
                },
            )
        return Payload(
            kind="Select", labels=["imported"], rows=[(len(manifest),)]
        )

    # the handler of each statement kind ``dialect.parse`` returns, or of
    # each kind that starts with a word that all of its kinds share
    _HANDLERS = {
        "CREATE TABLE": _create,
        "CREATE VIEW": _create_view,
        "CREATE MATERIALIZED VIEW": _create_matview,
        "CREATE INDEX": _create_index,
        "CREATE DATABASE": _create_database,
        "REFRESH": _refresh_matview,
        "INSERT": _insert,
        "UPDATE": _update,
        "DELETE": _delete,
        "MERGE": _merge,
        "TRUNCATE": _truncate,
        "DROP": _drop,
        "ALTER": _alter,
        "SET": _set_variable,
        "EXPLAIN": _explain,
        "SHOW": _explain,
        "EXECUTE": _execute_file,
        "EXPORT": _export_database,
        "IMPORT": _import_database,
    }
