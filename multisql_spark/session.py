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

Statement text is lexed once, by the dialect's tokenizer, as the reference
lexes it with sqlparser (``src/parse_sql.rs:6-17``): scripts split into
statements, and statements into the clauses parsed here (column and SET
lists, VALUES rows, WHERE, MERGE's source, ON and WHEN clauses), only at
separators outside strings, quoted values, comments and parentheses
(``dialect._split_source``).  Comments are dropped.

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
with existing keys) is observed on the pass that builds the batch or the
version (``DataFrame.observe``), not run as its own job.  DISTINCT counts
cannot be observed, so they run only when they can fire: over a batch
carrying more than one key, or over an UPDATE's version when it assigns
a UNIQUE column.  The version replaces ``state.df`` (or the attached
file) only after its checks pass.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multisql_spark import dialect
from multisql_spark.payload import Payload
from multisql_spark.sources import SourceDatabase, attach_database
from multisql_spark.tables import local_session, tune_session


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

# column options that end a DEFAULT expression
_COLUMN_OPTIONS = ("NOT NULL", "NULL", "UNIQUE", "PRIMARY KEY",
                   "AUTO_INCREMENT", "AUTOINCREMENT", "CHECK", "DEFAULT")

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
    indexes: dict[str, dict] = field(default_factory=dict)
    # an attached table's database and its name there: every write goes
    # back to its file through ``source.write`` (reference DBMut)
    source: SourceDatabase | None = None
    source_table: str | None = None
    # a managed table's df is its committed version: the checkpoint that
    # _materialize stored at the end of the last write statement (ALTER
    # TABLE may add a projection until the next write); a write replaces
    # it, never stacks onto it

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


def _release(version: DataFrame) -> None:
    """Free the blocks of a version :func:`_materialize` stored that no
    table took (its checks rejected it)."""
    version._jdf.queryExecution().logical().rdd().unpersist(False)


def assign_dense_ids(
    df: DataFrame, col: str, start: int, dtype: str
) -> DataFrame:
    """Fill ``col`` with dense sequential ids ``start+1 .. start+n`` via
    block allocation — the scale path for AUTO_INCREMENT.

    The reference reserves contiguous id blocks transactionally
    (sled/auto_increment.rs:12-55); the Spark equivalent: count rows per
    partition (one tiny aggregate, ≤#partitions rows to the driver),
    cumulate per-partition starting offsets, then give each row its
    partition's offset plus its position within the partition.  Ids come
    out identical to a global ``row_number() OVER (ORDER BY
    monotonically_increasing_id())`` — mono ids order by (partition,
    local position) — but the fill is a single narrow projection: no
    window, no shuffle, no join.

    Precondition: ``df`` is materialized — a checkpoint, or a narrow
    deterministic plan over one — so the count job and the fill see the
    same partitions holding the same rows in the same order."""
    pid = F.spark_partition_id()
    counts = df.groupBy(pid.alias("__pid")).count().collect()
    offsets, acc = [], start
    for r in sorted(counts, key=lambda x: x["__pid"]):
        offsets += [F.lit(r["__pid"]), F.lit(acc).cast("bigint")]
        acc += r["count"]
    # mono id = (partition index << 33) + position within the partition
    local_pos = F.monotonically_increasing_id() - F.shiftleft(
        pid.cast("bigint"), 33
    )
    offset = F.create_map(*offsets)[pid]
    return df.withColumn(col, (offset + local_pos + 1).cast(dtype))


def _local_relation(
    spark: SparkSession, schema: T.StructType, rows: list[tuple] = ()
) -> DataFrame:
    """``rows`` in ``schema`` as a DataFrame whose plan is one
    ``LocalRelation``: a stored leaf that carries its size estimate, so a
    join over it can be planned as a broadcast and a version built from
    it stays sized.  (``createDataFrame`` of a Python list plans a
    ``LogicalRDD`` of unknown size instead.)  The rows go through an
    Arrow table in the schema's types; a row of the wrong length or a
    value its column's type cannot hold raises :class:`EngineError`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    if any(len(r) != len(arrow) for r in rows):
        raise EngineError(f"each row must carry {len(arrow)} values")
    columns = list(zip(*rows)) or [()] * len(arrow)
    try:
        table = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(columns, arrow)],
            schema=arrow,
        )
    except (pa.ArrowException, OverflowError) as exc:
        raise EngineError(f"incompatible data: {exc}") from exc
    return spark.createDataFrame(table, schema)


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


def _uq_key(cdef: ColumnDef):
    """Equality key for UNIQUE checks: variant (declared-Any) columns are
    not comparable/groupable in Spark, but their JSON rendering is a
    faithful per-kind equality key, so Any-typed UNIQUE dedups on it.

    Numeric kinds are normalized first: the reference's default
    ``implicit_float_conversion`` treats ``I64(1)`` and ``F64(1.0)`` as
    equal in ``validate_unique`` (value/mod.rs:159), while their JSON
    renderings ``1`` vs ``1.0`` differ — so integral-valued doubles and
    ints both key as the canonical integer string.  The kind probe uses
    ``schema_of_variant`` (not a value cast) so a STRING variant ``'1'``
    never collides with the number 1."""
    if cdef.type_str != "variant":
        return F.col(cdef.name)
    c = F.col(cdef.name)
    kind = F.schema_of_variant(c)
    big = F.try_variant_get(c, "$", "bigint")
    dbl = F.try_variant_get(c, "$", "double")
    # doubles that are exactly representable integers (within the f64
    # 2^53 exact-integer range) render as the integer string
    integral_dbl = (
        dbl.isNotNull()
        & (dbl == F.floor(dbl))
        & (F.abs(dbl) <= F.lit(9007199254740992.0))
    )
    return (
        F.when(kind.isin("BIGINT", "INT", "SMALLINT", "TINYINT"),
               big.cast("string"))
        .when(
            kind.isin("DOUBLE", "FLOAT") & integral_dbl,
            dbl.cast("bigint").cast("string"),
        )
        .when(kind.isin("DOUBLE", "FLOAT"), dbl.cast("string"))
        .otherwise(F.to_json(c))
    )


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
        self.views: dict[str, str] = {}
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
        rewritten = self._rewrite(sql)
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

    def _jdbc_target(self, name: str):
        """(SourceDatabase, table) when name addresses a jdbc database."""
        dbname, dot, tbl = name.partition(".")
        db = self._database(dbname) if dot else None
        return (db, tbl) if db is not None and db.kind == "jdbc" else None

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
        self._create_database(
            f"CREATE DATABASE {database_name}"
            f" LOCATION '{database_path}'"
        )
        return True

    def reduce(self, database_name: str) -> bool:
        """Detach a database (reference Glue::reduce, glue/mod.rs:143-149).
        Returns whether action was taken."""
        return self._detach_database(database_name)

    def insert_vec(
        self, table: str, columns: list[str], rows: list[tuple]
    ) -> Payload:
        """Programmatic bulk insert (reference src/glue/mod.rs:190-248).
        The rows become a sized batch in the named columns' types; a value
        that type cannot hold raises :class:`EngineError`."""
        state = self._table(table)
        fields = []
        for c in columns:
            cdef = state.column(c)
            if cdef is None:
                raise ColumnNotFoundError(f"column not found: {c}")
            fields.append(
                T.StructField(c, state.df.schema[cdef.name].dataType)
            )
        df = _local_relation(self.spark, T.StructType(fields), rows)
        return self._insert_df(state, df, columns)

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

    def _rewrite(self, sql: str) -> str:
        return dialect.rewrite(
            sql,
            variables=self.variables,
            db_names=set(self.databases),
            int_division=True,
            schema=self._schema_snapshot(),
        )

    def _schema_snapshot(self) -> dict[str, dict[str, str]]:
        """Catalog snapshot {table: {col: spark_type}} for the dialect's
        schema-aware rewrites (reference label parity for bare columns,
        static I64 int-division typing — DIVERGENCES #3/#21)."""
        return {name: dict(state.df.dtypes)
                for name, state in self.tables.items()}

    def _table(self, name: str) -> TableState:
        key = name.lower()
        if key not in self.tables and "." in key:
            db, _, tbl = key.partition(".")
            if self._database(db) is not None:
                key = f"{db}__{tbl}"
        if key not in self.tables:
            raise TableNotFoundError(f"table not found: {name}")
        return self.tables[key]

    def _register(self, state: TableState) -> None:
        self.tables[state.name.lower()] = state
        state.df.createOrReplaceTempView(state.name)
        if state.source is not None:
            state.df = state.source.write(
                self.spark, state.source_table, state.df
            )
            state.df.createOrReplaceTempView(state.name)

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
        leaves ``state.df`` and its view as they were."""
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
            prev.createOrReplaceTempView(state.name)
            raise

    def _execute_one(self, stmt: str) -> Payload:
        first = dialect._TOKEN_RE.match(stmt)
        kw = first.group().upper() if first else ""
        if kw in ("SELECT", "WITH", "VALUES", "("):
            return Payload.select(self.sql(stmt))
        if kw == "CREATE":
            return self._create(stmt)
        if kw == "INSERT":
            return self._insert(stmt)
        if kw == "UPDATE":
            return self._update(stmt)
        if kw == "MERGE":
            return self._merge(stmt)
        if kw == "DELETE":
            return self._delete(stmt)
        if kw == "TRUNCATE":
            return self._truncate(stmt)
        if kw == "DROP":
            return self._drop(stmt)
        if kw == "ALTER":
            return self._alter(stmt)
        if kw == "SET":
            return self._set_variable(stmt)
        if kw == "EXPLAIN":
            return self._explain(stmt)
        if kw in ("SHOW", "DESCRIBE", "DESC"):
            return self._show(stmt)
        if kw == "EXECUTE":
            return self._execute_file(stmt)
        if kw == "EXPORT":
            return self._export_database(stmt)
        if kw == "IMPORT":
            return self._import_database(stmt)
        if kw == "REFRESH":
            return self._refresh_matview(stmt)
        raise UnsupportedError(f"unsupported statement: {stmt[:60]}")

    # -- CREATE -------------------------------------------------------------

    _CREATE_TABLE_RE = re.compile(
        r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
        r"(?:\((.*)\)\s*|AS\s+(.*))$",
        re.IGNORECASE | re.DOTALL,
    )

    def _create(self, stmt: str) -> Payload:
        upper = stmt.upper()
        if re.match(r"\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW", upper):
            return self._create_matview(stmt)
        if re.match(r"\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW", upper):
            return self._create_view(stmt)
        if re.match(r"\s*CREATE\s+(UNIQUE\s+)?INDEX", upper):
            return self._create_index(stmt)
        if re.match(r"\s*CREATE\s+DATABASE", upper):
            return self._create_database(stmt)
        m = self._CREATE_TABLE_RE.match(stmt)
        if not m:
            raise EngineError(f"cannot parse CREATE: {stmt[:80]}")
        if_not_exists, name, cols_src, as_select = m.groups()
        source = source_table = None
        if "." in name:
            # CREATE TABLE db.tbl targets an attached database (reference
            # create/table.rs resolves ComplexTableName.database); `main.`
            # is the primary namespace
            dbname, _, tbl = name.partition(".")
            if dbname.lower() == "main":
                name = tbl
            else:
                db = self._database(dbname)
                if db is None:
                    raise EngineError(f"database not found: {dbname}")
                if not db.creates_tables:
                    raise EngineError(
                        f"cannot create tables in a {db.kind} database"
                    )
                name = f"{dbname}__{tbl}"
                source, source_table = db, tbl
        if name.lower() in self.tables:
            if if_not_exists:
                return Payload.success("Create")
            raise AlreadyExistsError(f"table exists: {name}")
        if as_select:  # CREATE TABLE .. AS SELECT
            df = self.sql(as_select)
            columns = [
                ColumnDef(f.name, f.dataType.simpleString())
                for f in df.schema.fields
            ]
            state = TableState(
                name, columns, df, source=source, source_table=source_table
            )
            self._commit(state, df)
            return Payload.success("Create")
        columns = self._parse_columns(cols_src)
        schema = T.StructType(
            [
                T.StructField(c.name, _spark_type(c.type_str), not c.not_null)
                for c in columns
            ]
        )
        df = _local_relation(self.spark, schema)
        self._register(
            TableState(
                name, columns, df, source=source, source_table=source_table
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
            name, rest = (part.split(None, 1) + [""])[:2]
            col = ColumnDef(name=name.strip('`"'))
            words = [
                text.upper()
                for _, kind, text in dialect._top(dialect.tokenize(rest))
                if kind != "string"
            ]
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
                tail = dialect._split_source(rest, "DEFAULT")[1][len("DEFAULT"):]
                # the expression is at least one token (`DEFAULT NULL`)
                col.default = next(
                    (p for p in dialect._split_source(tail, *_COLUMN_OPTIONS)
                     if p),
                    None,
                )
            out.append(col)
        return out

    def _create_view(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE VIEW: {stmt[:80]}")
        name, query = m.groups()
        # reference accepts a parenthesized view body
        # (tests/ability/alter/view/create_view.rs).  A body that is one
        # group closes its first top-level paren at its end: split there,
        # `((q))` is ["((q)", ""] and `(a) UNION (b)` is ["(a", "UNION (b", ""]
        while True:
            group, *rest = dialect._split_source(query, ")")
            if rest != [""] or not group.startswith("("):
                break
            query = group[1:].strip()
        df = self.sql(query)
        df.createOrReplaceTempView(name)
        self.views[name.lower()] = query
        return Payload.success("CreateView")

    def _create_matview(self, stmt: str) -> Payload:
        """CREATE MATERIALIZED VIEW (beyond reference): the defining query
        is evaluated ONCE and pinned (_materialize), so readers scan the
        materialized result instead of re-running the plan — the batch
        face of a continuous aggregate (`stream_rollup_sink` is the
        streaming face).  `REFRESH MATERIALIZED VIEW` re-evaluates; reads
        between refreshes see the stale snapshot, which a test pins."""
        m = re.match(
            r"\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+([\w.]+)"
            r"\s+AS\s+(.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE MATERIALIZED VIEW: {stmt[:80]}")
        replace, name, query = m.groups()
        if name.lower() in self.matviews and not replace:
            raise AlreadyExistsError(f"materialized view exists: {name}")
        df = _materialize(self.sql(query))
        df.createOrReplaceTempView(name)
        self.matviews[name.lower()] = query
        return Payload.success("CreateMaterializedView")

    def _refresh_matview(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"cannot parse REFRESH: {stmt[:80]}")
        name = m.group(1)
        query = self.matviews.get(name.lower())
        if query is None:
            raise TableNotFoundError(f"materialized view not found: {name}")
        df = _materialize(self.sql(query))
        df.createOrReplaceTempView(name)
        return Payload.success("RefreshMaterializedView")

    def _create_index(self, stmt: str) -> Payload:
        """CREATE [UNIQUE] INDEX — metadata no-op: parquet min/max pushdown
        and partition pruning replace the reference's IndexFilter machinery
        (SURVEY §4)."""
        m = re.match(
            r"\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(\w+)\s+ON\s+([\w.]+)\s*\((\w+)\)",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE INDEX: {stmt[:80]}")
        unique, iname, tname, col = m.groups()
        state = self._table(tname)
        state.indexes[iname] = {"column": col, "unique": bool(unique)}
        if unique:
            cdef = state.column(col)
            if cdef:
                cdef.unique = True
        return Payload.success("CreateIndex")

    def _create_database(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)"
            r"\s+LOCATION\s+'([^']+)'",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE DATABASE: {stmt[:80]}")
        if_not_exists, name, path = m.groups()
        if self._database(name) is not None:
            # reference create/database error shape
            # (tests/ability/alter/database/create_database.rs)
            if if_not_exists:
                return Payload.success("CreateDatabase")
            raise AlreadyExistsError(f"database exists: {name}")
        db = attach_database(self.spark, name, path)
        self.databases[name] = db
        # every table read at attach (a jdbc database reads none) is
        # writable (reference DBMut): DML on db.table routes through the
        # managed-table pipeline and writes back to the table's file
        for tname, df in db.tables.items():
            self.tables[f"{name}__{tname}".lower()] = TableState(
                name=f"{name}__{tname}",
                columns=[ColumnDef(name=f, type_str=t) for f, t in df.dtypes],
                df=df,
                source=db,
                source_table=tname,
            )
        return Payload.success("CreateDatabase")

    # -- INSERT (reference src/executor/alter_row/insert.rs) ----------------

    _INSERT_RE = re.compile(
        r"\s*INSERT\s+(INTO|OVERWRITE(?:\s+TABLE)?)\s+([\w.]+)\s*"
        r"(?:\(([^)]*)\))?\s*(.*)$",
        re.IGNORECASE | re.DOTALL,
    )

    def _insert(self, stmt: str) -> Payload:
        m = self._INSERT_RE.match(stmt)
        if not m:
            raise EngineError(f"cannot parse INSERT: {stmt[:80]}")
        mode, name, cols_src, source = m.groups()
        overwrite = mode.upper().startswith("OVERWRITE")
        jt = self._jdbc_target(name)
        if jt is None:
            state = self._table(name)
            declared = [c.name for c in state.columns]
        elif overwrite:
            raise EngineError("jdbc databases are insert-only (append)")
        else:
            # a JDBC target's default column list is the remote table's
            state = None
            remote = self._jdbc_relation(*jt)
            declared = remote.columns
        stated = (
            [c.strip().strip('`"') for c in cols_src.split(",")]
            if cols_src
            else declared
        )
        src = source.strip()
        if src.upper().startswith("VALUES"):
            body = src[len("VALUES"):].strip()
            alias_cols = ", ".join(stated)
            body = self._rewrite_fragment(body)
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
            df = self.sql(src)
            df = df.toDF(*stated)
        if state is None:
            return self._insert_jdbc(jt[0], jt[1], remote, df, stated)
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

    def _rewrite_fragment(
        self, fragment: str, table: TableState | None = None
    ) -> str:
        # "" = ambient fragment columns (no FROM clause): lets the
        # division rewrite type int columns statically in UPDATE
        # SET / WHERE expressions (reference binary.rs int-`/`)
        schema = {"": dict(table.df.dtypes)} if table is not None else None
        return dialect.rewrite(
            fragment,
            variables=self.variables,
            db_names=set(self.databases),
            int_division=True,
            schema=schema,
        )

    def _insert_df(
        self,
        state: TableState,
        incoming: DataFrame,
        stated: list[str],
        existing: DataFrame | None = None,
        check: Callable[[DataFrame], None] | None = None,
    ) -> Payload:
        """Validation pipeline per reference validate.rs:46-99: position
        mapping → defaults → AUTO_INCREMENT → type coercion → NOT NULL →
        UNIQUE → append to ``existing`` (default: the table's rows).

        One pass per stored copy.  The aligned batch is materialized once,
        observing its row count, NULL counts, AUTO_INCREMENT fill counts
        and UNIQUE key counts.  The commit pass builds the new version and
        observes how many rows of ``existing`` an anti join against the
        batch's keys drops; that check runs
        before the swap (:meth:`_commit`), after the caller's ``check``
        of what ``existing``'s own plan observed on the same pass.  The
        one DISTINCT count, for duplicates within the batch, runs only
        for a UNIQUE column that carries more than one key in the batch."""
        if existing is None:
            existing = state.df
        # stated columns must exist (reference ValidateError::ColumnNotFound,
        # validate.rs:30-44) and carry compatible types (value/mod.rs:232-260)
        for s, field in zip(stated, incoming.schema.fields):
            cdef = state.column(s)
            if cdef is None:
                raise ColumnNotFoundError(f"column not found: {s}")
            _check_write_type(cdef, field.dataType, state.name)
        cols = []
        stated_lower = [s.lower() for s in stated]
        for cdef in state.columns:
            if cdef.name.lower() in stated_lower:
                src = F.col(stated[stated_lower.index(cdef.name.lower())])
            elif cdef.auto_increment:
                src = F.lit(None)
            elif cdef.default is not None:
                src = F.expr(self._rewrite_fragment(cdef.default))
            else:
                src = F.lit(None)
            cols.append(src.cast(state.df.schema[cdef.name].dataType).alias(cdef.name))
        # one observed pass over the batch: row count, NULL counts (NOT
        # NULL, and the AUTO_INCREMENT fill) and non-NULL key counts
        # (UNIQUE; NULLs never collide, reference validate_unique.rs
        # skips them)
        metrics = [F.count(F.lit(1)).alias("n")]
        for cdef in state.columns:
            null = F.col(cdef.name).isNull()
            if cdef.not_null and not cdef.auto_increment:
                metrics.append(F.count_if(null).alias(f"nn_{cdef.name}"))
            if cdef.auto_increment:
                metrics.append(F.count_if(null).alias(f"ai_{cdef.name}"))
            if cdef.unique:
                metrics.append(F.count(_uq_key(cdef)).alias(f"uk_{cdef.name}"))
        batch = Observation()
        aligned = stored = _materialize(
            incoming.select(*cols).observe(batch, *metrics)
        )
        try:
            stats = batch.get
            n_in = stats["n"]
            for cdef in state.columns:
                if cdef.not_null and not cdef.auto_increment \
                        and stats[f"nn_{cdef.name}"]:
                    raise NotNullViolation(
                        f"NOT NULL violated for {state.name}.{cdef.name}"
                    )
            keyed = [
                c for c in state.columns if c.unique and stats[f"uk_{c.name}"]
            ]
            # duplicates within the batch: a DISTINCT count, which cannot be
            # observed, so only where a column carries more than one key
            multi = [c for c in keyed if stats[f"uk_{c.name}"] > 1]
            if multi:
                dups = aligned.agg(
                    *[F.count(_uq_key(c)) - F.count_distinct(_uq_key(c))
                      for c in multi]
                ).first()
                for cdef, dup in zip(multi, dups):
                    if dup:
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
                keys = aligned.select(_uq_key(cdef).alias(k)).filter(
                    F.col(k).isNotNull()
                )
                counted.append(Observation())
                probe = probe.observe(
                    counted[-1], F.count(F.lit(1)).alias("n")
                ).join(keys, _uq_key(cdef) == F.col(k), "left_anti")
            if keyed:
                counted.append(Observation())
                existing = probe.observe(
                    counted[-1], F.count(F.lit(1)).alias("n")
                )

            def check_all(version: DataFrame) -> None:
                if check is not None:
                    check(version)
                n = [o.get["n"] for o in counted]
                for cdef, before, after in zip(keyed, n, n[1:]):
                    if before != after:
                        raise UniqueViolation(
                            f"UNIQUE violated for {state.name}.{cdef.name}"
                        )

            # assign AUTO_INCREMENT ids only after validation passed, and
            # advance the counters only once the commit succeeded, so a
            # rejected insert doesn't burn counter values
            counters = {}
            for cdef in state.columns:
                if cdef.auto_increment:
                    start = state.auto_counter.get(cdef.name, 0)
                    # only NULL ids are filled and only they advance the
                    # counter — explicit values don't consume it (reference
                    # sled/auto_increment.rs semantics, see the corpus test:
                    # explicit 6 then auto gives 5, then 6 again)
                    n_fill = stats[f"ai_{cdef.name}"]
                    dtype = state.df.schema[cdef.name].dataType.simpleString()
                    null = F.col(cdef.name).isNull()
                    # block-allocated dense ids over the materialized batch
                    # (see assign_dense_ids); a batch with no explicit ids is
                    # filled in place, as a union would add a partition
                    if n_fill and n_fill == n_in:
                        aligned = assign_dense_ids(aligned, cdef.name, start, dtype)
                    elif n_fill:
                        filled = assign_dense_ids(
                            aligned.filter(null), cdef.name, start, dtype
                        )
                        aligned = aligned.filter(~null).unionByName(filled)
                    counters[cdef.name] = start + n_fill

            self._commit(state, existing.unionByName(aligned),
                         check_all if check or keyed else None)
            state.auto_counter.update(counters)
            return Payload.affected("Insert", n_in)
        finally:
            # the version (or the file) holds the batch's rows now, and a
            # rejected batch is not needed either
            _release(stored)

    # -- UPDATE / DELETE / TRUNCATE ----------------------------------------

    def _update(self, stmt: str) -> Payload:
        """UPDATE … SET … [WHERE …]: the table's rows with the predicate
        as the ``__hit`` column, through :meth:`_assign`, committed in one
        pass that observes the updated-row count and the checks."""
        head, *where = dialect._split_source(stmt, "WHERE")
        m = re.match(
            r"\s*UPDATE\s+([\w.]+)\s+SET\s+(.*)$",
            head,
            re.IGNORECASE | re.DOTALL,
        )
        if not m or len(where) > 1:
            raise EngineError(f"cannot parse UPDATE: {stmt[:80]}")
        name, sets_src = m.groups()
        if self._jdbc_target(name) is not None:
            # reference ODBC DBMut implements insert only
            # (src/databases/odbc/mutable.rs)
            raise EngineError("jdbc databases are insert-only")
        state = self._table(name)
        cond = (
            F.expr(self._rewrite_fragment(where[0][len("WHERE"):], state))
            if where else F.lit(True)
        )
        # the predicate is evaluated once per row, as a column that the
        # CASE projection and the observed count share
        rows = state.df.alias(state.name).select(
            "*", F.coalesce(cond, F.lit(False)).alias("__hit")
        )
        new, seen, check = self._assign(state, rows, state.name, sets_src)
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
            col, expr = part.split("=", 1)
            col = col.strip().strip('`"').lower()
            if col.startswith(alias.lower() + "."):
                col = col[len(alias) + 1:]
            assignments[col] = F.expr(
                self._rewrite_fragment(expr.strip(), state)
            )
        hit = F.col("__hit")
        probe = rows.limit(0)
        fractional = {}  # flag column → (its value, the error it raises)
        for col, expr in assignments.items():
            cdef = state.column(col)
            if cdef is None:
                raise ColumnNotFoundError(f"column not found: {col}")
            ptype = probe.select(expr.alias("_p")).schema[0].dataType
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
            dtype = state.df.schema[cdef.name].dataType
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
                if cdef.unique and got["n"] and version.agg(
                    F.count(key) - F.count_distinct(key)
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

    def _merge(self, stmt: str) -> Payload:
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
        head, *clauses = dialect._split_source(
            stmt, "ON", "WHEN MATCHED THEN", "WHEN NOT MATCHED THEN"
        )
        m = re.match(
            r"\s*MERGE\s+INTO\s+([\w.]+)(?:\s+AS\s+(\w+))?\s+USING\s+"
            r"(.+?)(?:\s+(?:AS\s+)?(\w+))?$",
            head,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"cannot parse MERGE: {stmt[:80]}")
        tname, talias, source, salias = m.groups()
        if source.startswith("("):
            if not source.endswith(")"):
                raise EngineError("MERGE: unbalanced USING subquery")
            src_df = self.sql(source[1:-1])
            salias = salias or "s"
        else:
            src_df = self._table(source).df
            salias = salias or source.split(".")[-1]
        if not clauses or not re.match(r"(?i)ON\b", clauses[0]):
            raise EngineError("MERGE: missing ON condition")
        on_src = clauses[0][len("ON"):]
        upd_sets: str | None = None
        matched_delete = False
        ins_clause: str | None = None
        for clause in clauses[1:]:
            w = re.match(
                r"(?i)WHEN\s+(NOT\s+)?MATCHED\s+THEN\s*(.*)$", clause,
                re.DOTALL,
            )
            if not w:
                raise EngineError(f"cannot parse MERGE: {stmt[:80]}")
            neg, action = w.groups()
            if neg:
                if not re.match(r"(?i)INSERT\b", action):
                    raise EngineError("MERGE: NOT MATCHED supports INSERT only")
                ins_clause = action
            elif re.match(r"(?i)UPDATE\s+SET\b", action):
                upd_sets = re.sub(r"(?i)^UPDATE\s+SET\s+", "", action)
            elif re.match(r"(?i)DELETE\b", action):
                matched_delete = True
            else:
                raise EngineError(
                    "MERGE: MATCHED supports UPDATE SET or DELETE"
                )
        if upd_sets is None and not matched_delete and ins_clause is None:
            raise EngineError("MERGE: no WHEN clause")
        if self._jdbc_target(tname) is not None:
            raise EngineError("jdbc databases are insert-only")
        state = self._table(tname)
        # default alias = the resolved internal name: the dialect rewrites
        # dotted refs (`db.t.col` -> `db__t.col`), so aliasing the target
        # the same way keeps qualified ON/SET references resolvable
        talias = talias or state.name
        target = Observation()
        t = state.df.observe(target, F.count(F.lit(1)).alias("n"))
        s = src_df.withColumn("__m", F.lit(1)).alias(salias)
        cond = F.expr(self._rewrite_fragment(on_src))
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

        def n_changed() -> int:
            matched = upd_sets is not None or matched_delete
            return seen.get["n"] if matched else 0

        if ins_clause is None:
            self._commit(state, candidate, check)
            return Payload.affected("Merge", n_changed())

        mi = re.match(
            r"(?i)INSERT\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.*)\)\s*$",
            ins_clause.strip(),
            re.DOTALL,
        )
        if not mi:
            raise EngineError(f"cannot parse MERGE INSERT: {ins_clause[:60]}")
        cols_src, vals_src = mi.groups()
        stated = (
            [c.strip().strip('`"') for c in cols_src.split(",")]
            if cols_src
            else [c.name for c in state.columns]
        )
        exprs = dialect._split_source(vals_src, ",")
        if len(exprs) != len(stated):
            raise EngineError("MERGE INSERT: column/value count mismatch")
        anti = src_df.alias(salias).join(
            state.df.alias(talias), cond, "left_anti"
        )
        ins_df = anti.select(
            *[
                F.expr(self._rewrite_fragment(e)).alias(c)
                for c, e in zip(stated, exprs)
            ]
        )
        # one commit for both branches: the inserted rows are validated
        # against, and appended to, the target with the matched branch
        # applied, so a rejected statement leaves the table unchanged
        n_inserted = self._insert_df(
            state, ins_df, stated, existing=candidate, check=check
        ).count
        return Payload.affected("Merge", n_changed() + n_inserted)

    def _delete(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*))?$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"cannot parse DELETE: {stmt[:80]}")
        name, where = m.groups()
        if self._jdbc_target(name) is not None:
            raise EngineError("jdbc databases are insert-only")
        state = self._table(name)
        cond = (
            F.coalesce(F.expr(self._rewrite_fragment(where)), F.lit(False))
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

    def _truncate(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)", stmt, re.IGNORECASE
        )
        state = self._table(m.group(1))
        self._commit(state, state.df.limit(0))
        state.auto_counter = {}
        return Payload.success("TruncateTable")

    def _drop(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*DROP\s+(TABLE|MATERIALIZED\s+VIEW|VIEW|INDEX|SCHEMA|DATABASE)"
            r"\s+(IF\s+EXISTS\s+)?([\w.]+)",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"cannot parse DROP: {stmt[:80]}")
        kind, if_exists, name = m.groups()
        kind = re.sub(r"\s+", " ", kind.upper())
        key = name.lower()
        if kind == "MATERIALIZED VIEW":
            if key not in self.matviews and not if_exists:
                raise TableNotFoundError(f"materialized view not found: {name}")
            self.matviews.pop(key, None)
            self.spark.catalog.dropTempView(name)
            return Payload.success("DropMaterializedView")
        if kind == "TABLE":
            if key not in self.tables and not if_exists:
                raise TableNotFoundError(f"table not found: {name}")
            self.tables.pop(key, None)
            self.spark.catalog.dropTempView(name)
            return Payload.success("DropTable")
        if kind == "VIEW":
            self.views.pop(key, None)
            self.spark.catalog.dropTempView(name)
            return Payload.success("DropView")
        if kind in ("SCHEMA", "DATABASE"):
            self._detach_database(name)
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

    def _alter(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*ALTER\s+TABLE\s+([\w.]+)\s+(.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise EngineError(f"cannot parse ALTER: {stmt[:80]}")
        name, action = m.groups()
        state = self._table(name)
        au = action.strip()
        m2 = re.match(r"RENAME\s+TO\s+([\w.]+)", au, re.IGNORECASE)
        if m2:
            new_name = m2.group(1)
            self.tables.pop(state.name.lower())
            self.spark.catalog.dropTempView(state.name)
            state.name = new_name
            self._register(state)
            return Payload.success("AlterTable")
        m2 = re.match(
            r"RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)", au, re.IGNORECASE
        )
        if m2:
            old, new = m2.groups()
            cdef = state.column(old)
            if not cdef:
                raise ColumnNotFoundError(f"column not found: {old}")
            cdef.name = new
            state.df = state.df.withColumnRenamed(old, new)
            self._register(state)
            return Payload.success("AlterTable")
        m2 = re.match(r"ADD\s+(?:COLUMN\s+)?(.*)$", au, re.IGNORECASE | re.DOTALL)
        if m2 and not au.upper().startswith("ADD CONSTRAINT"):
            cdefs = self._parse_columns(m2.group(1))
            if not cdefs:
                raise EngineError(f"cannot parse ALTER: {stmt[:80]}")
            cdef = cdefs[0]
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
                F.expr(self._rewrite_fragment(cdef.default))
                if cdef.default is not None
                else F.lit(None)
            )
            state.columns.append(cdef)
            state.df = state.df.withColumn(
                cdef.name, default.cast(_spark_type(cdef.type_str))
            )
            self._register(state)
            return Payload.success("AlterTable")
        m2 = re.match(
            r"DROP\s+(?:COLUMN\s+)?(IF\s+EXISTS\s+)?(\w+)", au, re.IGNORECASE
        )
        if m2:
            if_exists, col = m2.groups()
            if state.column(col) is None:
                if if_exists:
                    return Payload.success("AlterTable")
                # reference AlterTableError::DroppingColumnNotFound
                raise ColumnNotFoundError(f"column not found: {col}")
            state.columns = [
                c for c in state.columns if c.name.lower() != col.lower()
            ]
            state.df = state.df.drop(col)
            self._register(state)
            return Payload.success("AlterTable")
        raise UnsupportedError(f"unsupported ALTER action: {au[:60]}")

    # -- SET / EXPLAIN / EXECUTE FILE ---------------------------------------

    def _set_variable(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*SET\s+([@$]?\w+)\s*=\s*(.+)$", stmt, re.IGNORECASE | re.DOTALL
        )
        if not m:
            raise EngineError(f"cannot parse SET: {stmt[:80]}")
        name, literal = m.groups()
        self.variables[name.lstrip("@$").lower()] = literal.strip()
        return Payload.success("SetVariable")

    def _show(self, stmt: str) -> Payload:
        """SHOW DATABASES / SHOW TABLES [FROM db] / SHOW COLUMNS FROM t /
        DESCRIBE t — beyond-reference introspection sugar over the same
        metadata surface EXPLAIN exposes (explain.rs:6-89 shapes), so
        host code ported from conventional SQL tooling works unchanged."""
        s = stmt.strip().rstrip(";").strip()
        m = re.match(r"(?i)SHOW\s+DATABASES$", s)
        if m:
            return self._explain("EXPLAIN ALL")
        m = re.match(r"(?i)SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([\w.]+))?$", s)
        if m:
            return self._explain(f"EXPLAIN {m.group(1) or 'main'}")
        m = re.match(r"(?i)SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([\w.]+)$", s)
        if m:
            return self._explain(f"EXPLAIN {m.group(1)}")
        m = re.match(r"(?i)(?:DESCRIBE|DESC)\s+([\w.]+)$", s)
        if m:
            return self._explain(f"EXPLAIN {m.group(1)}")
        raise UnsupportedError(f"unsupported SHOW statement: {stmt[:60]}")

    def _explain(self, stmt: str) -> Payload:
        """Metadata introspection, not query plans (reference
        src/executor/other/explain.rs:6-89)."""
        m = re.match(r"\s*EXPLAIN\s+(\S+)", stmt, re.IGNORECASE)
        target = m.group(1) if m else "ALL"
        tl = target.lower()
        if target.upper() in ("SELECT", "WITH", "VALUES"):
            # beyond-reference: EXPLAIN <query> returns the Spark physical
            # plan (the reference has no plan introspection at all)
            body = re.sub(r"\s*EXPLAIN\s+", "", stmt, count=1,
                          flags=re.IGNORECASE)
            from multisql_spark.plans import formatted_plan

            plan = formatted_plan(self.sql(body))
            rows = [(line,) for line in plan.splitlines() if line.strip()]
            return Payload(kind="Select", labels=["plan"], rows=rows)
        if target.upper() == "ANALYZE":
            # beyond-reference: EXPLAIN ANALYZE <query> executes the query
            # and returns the final (AQE-resolved) physical plan with
            # runtime metrics — what actually ran, not what was planned
            body = re.sub(r"\s*EXPLAIN\s+ANALYZE\s+", "", stmt, count=1,
                          flags=re.IGNORECASE)
            df = self.sql(body)
            df.collect()
            executed = df._jdf.queryExecution().executedPlan().toString()
            rows = [
                (line,) for line in executed.splitlines() if line.strip()
            ]
            return Payload(kind="Select", labels=["plan"], rows=rows)
        if target.upper() == "ALL":
            # the managed (temp-view) store is the reference's default
            # database, named "main" (tests/databases/sled.rs Glue::new)
            rows = [("main",)] + [(d,) for d in sorted(self.databases)]
            return Payload(kind="Select", labels=["database"], rows=rows)
        if target.upper() == "ALL_TABLE":
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
        if tl == "main" and tl not in self.tables:
            rows = [(t,) for t in sorted(self.tables) if "__" not in t]
            return Payload(kind="Select", labels=["table"], rows=rows)
        if tl.startswith("main.") and tl[5:] in self.tables:
            tl = tl[5:]
        if "." in tl:
            # EXPLAIN db.table (reference explain.rs:9-12 2-element name):
            # managed-state tables use declared columns; adapter-only
            # tables (e.g. jdbc) reflect the Spark schema
            dbname, _, tbl = tl.partition(".")
            if f"{dbname}__{tbl}" in self.tables:
                tl = f"{dbname}__{tbl}"
            else:
                db = self._database(dbname)
                if db is not None:
                    if db.kind == "jdbc" and tbl not in db.tables:
                        self._resolve_jdbc_views(f"{dbname}__{tbl}")
                    if tbl in db.tables:
                        rows = [
                            (
                                f,
                                _VALUETYPE_DISPLAY.get(t, t),
                            )
                            for f, t in db.tables[tbl].dtypes
                        ]
                        return Payload(
                            kind="Select",
                            labels=["column", "data_type"],
                            rows=rows,
                        )
        if tl in self.tables:
            state = self.tables[tl]
            # reference ValueType display names (value_type/cast.rs:31-44)
            rows = [
                (c.name, _VALUETYPE_DISPLAY.get(c.type_str, c.type_str))
                for c in state.columns
            ]
            return Payload(
                kind="Select", labels=["column", "data_type"], rows=rows
            )
        if target in self.databases:
            adapter = self.databases[target]
            rows = [(t,) for t in sorted(adapter.table_names())]
            return Payload(kind="Select", labels=["table"], rows=rows)
        raise EngineError(f"EXPLAIN target not found: {target}")

    def _execute_file(self, stmt: str) -> Payload:
        m = re.match(
            r"\s*EXECUTE\s+FILE\s*\(\s*'([^']+)'\s*\)", stmt, re.IGNORECASE
        )
        if not m:
            raise EngineError(f"cannot parse EXECUTE FILE: {stmt[:80]}")
        with open(m.group(1)) as fh:
            payloads = self.execute_many(fh.read())
        return payloads[-1] if payloads else Payload.success()

    def _export_database(self, stmt: str) -> Payload:
        """EXPORT DATABASE TO '<dir>' (beyond ref): dump every managed
        table as parquet plus a schema manifest (column options and
        auto-increment counters), so the session's managed-table state
        survives a restart / ships to another cluster.  Attached-db
        tables are EXCLUDED by design — they already live in their
        backing files (parquet/csv/xlsx/jdbc) and re-attach via CREATE
        DATABASE LOCATION.  One directory per table — at scale each
        table export is a parallel parquet write."""
        import json as _json

        m = re.match(
            r"\s*EXPORT\s+DATABASE\s+TO\s+'([^']+)'\s*$", stmt,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"cannot parse EXPORT DATABASE: {stmt[:80]}")
        root = m.group(1)
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

    def _import_database(self, stmt: str) -> Payload:
        """IMPORT DATABASE FROM '<dir>': restore every table exported by
        EXPORT DATABASE — schema options, auto-increment counters and
        rows — into the current session (existing same-named tables are
        replaced)."""
        import json as _json

        m = re.match(
            r"\s*IMPORT\s+DATABASE\s+FROM\s+'([^']+)'\s*$", stmt,
            re.IGNORECASE,
        )
        if not m:
            raise EngineError(f"cannot parse IMPORT DATABASE: {stmt[:80]}")
        root = m.group(1)
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
            df.createOrReplaceTempView(name)
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
