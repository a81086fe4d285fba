"""Query inventory registry.

Every implemented operator from SURVEY.md §2 (plus the beyond-reference
extensions) is declared here as a named query with:

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
- ``oracle`` — an equivalent ANSI-SQL string DuckDB can run on the same
  parquet tables (``None`` for genuinely non-SQL-expressible ops, which
  get a weaker rows-only check).

``load_all()`` imports every query module and returns the registry in
registration order; callers look specs up by name.

Conventions that make the oracle hash-compare (``tools/driver_sim.py``)
deterministic:
- every computed column is aliased identically on both sides;
- money aggregates are summed as DECIMAL (exact, order-independent);
- floating aggregates are rounded to a fixed number of decimals;
- timestamps are returned as epoch-second BIGINTs or formatted strings;
- every LIMIT query carries a total tie-breaking ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import wraps

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def canonical_output(df: DataFrame) -> DataFrame:
    """Cast DecimalType result columns to DOUBLE at the output boundary.

    Aggregates accumulate as DECIMAL internally (exact, order-independent)
    but the driver canonicalizes results via pandas, where
    ``Decimal('221589.00')`` vs the oracle's float64 ``221589.0`` is a
    trailing-zero string mismatch.  Every oracle mirrors this with
    ``CAST(... AS DOUBLE)`` on its decimal aggregates."""
    cols = []
    changed = False
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            cols.append(F.col(f.name).cast("double").alias(f.name))
            changed = True
        else:
            cols.append(F.col(f.name))
    return df.select(*cols) if changed else df


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return canonical_output(fn(spark, sf_dir))

        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, tags=tags,
            doc=fn.__doc__ or ""
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module; return the registry in registration order."""
    from multisql_spark.queries import (  # noqa: F401
        analytics_q,
        core,
        dedup_q,
        engine_q,
        functions_q,
        mm_q,
        pipeline_q,
        similarity_q,
        streaming_q,
        text_q,
        tpch_q,
    )

    return dict(REGISTRY)
