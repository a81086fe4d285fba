"""Test-data table loading, session tuning and the local session factory.

The driver hands us an arbitrary SparkSession; we pin the runtime confs we
depend on (UTC session timezone so timestamp semantics line up with the
DuckDB oracle, AQE on, sane shuffle parallelism for local mode) — all of
these are runtime-settable, and :func:`load_tables` and
``MultiSQLSession(spark)`` set them on the session they are given.  Sessions this repo starts itself (tests,
tools, ``bench.py``, ``MultiSQLSession()``) come from :func:`local_session`,
which adds the start-up confs and then applies the same runtime confs.
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger("multisql_spark")

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_SESSION_CONFS = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so year()/window()
    # etc. agree with the oracle.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local-mode default of 200 over-parallelizes small data; AQE coalesces
    # but the initial hash partitioning still costs task setup.
    "spark.sql.shuffle.partitions": "32",
    # ... but 32 is a SMALL-DATA floor, not a scale ceiling: at derived
    # sf1000 a 600M-row hash aggregate split 32 ways put ~19M rows of
    # aggregation state in each of 32 concurrent tasks on one heap and
    # OOM'd (dedup_duplicated_spans, r10).  AQE coalesces DOWN from
    # initialPartitionNum by its size target, so a high initial count is
    # free at test scale (same post-coalesce partition count) and bounds
    # per-task state at 100x — exactly how a 1000-executor cluster would
    # be configured.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as long and convert below.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # micros-precision parquet timestamps otherwise infer as TIMESTAMP_NTZ
    # on Spark 4, which withWatermark rejects; under the UTC session
    # timezone LTZ carries identical values, so read them as TIMESTAMP.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def local_cpus() -> int:
    """Task slots of the sessions this repo starts: ``$SPARK_GRAFT_CPUS``,
    else the cores this process may run on."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


def local_session(app: str, **confs: str) -> SparkSession:
    """Start (or join) the local SparkSession every entry point in this
    repo uses: ``local[local_cpus()]`` with the start-up confs below
    (``confs`` overrides single entries), then :func:`tune_session`."""
    # Derby home and the SQL warehouse go to scratch, so no derby.log or
    # spark-warehouse lands in the working directory
    scratch = tempfile.mkdtemp(prefix=f"{app}_")
    startup = {
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.warehouse.dir": f"{scratch}/spark-warehouse",
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={scratch}",
    }
    spark = (
        SparkSession.builder.master(f"local[{local_cpus()}]")
        .appName(app)
        .config(map={**startup, **confs})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return tune_session(spark)


def tune_session(spark: SparkSession) -> SparkSession:
    for key, value in _SESSION_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # not settable at runtime on this build: keep going without it
            log.warning("could not set %s=%s", key, value, exc_info=True)
    _enable_fast_worker(spark)
    return spark


def _enable_fast_worker(spark: SparkSession) -> None:
    """Put the repository root on the Python workers' ``PYTHONPATH`` and
    route them through :mod:`pyspark_graft_worker` (repo root).

    Executors import ``multisql_spark`` (the multimodal stages and the
    text UDFs pickle module-level functions by reference), so the root
    must be importable on every worker, whatever directory the driver
    runs from.  The worker module removes two fixed per-task worker
    costs — the per-task ``importlib.invalidate_caches()`` zip-directory
    rescan and the full-heap ``gc.collect()`` between reused tasks
    (~140 ms/task combined on this install; measured, see
    OPTIMIZATION_r11.md).

    The worker-module conf is read by the JVM's PythonWorkerFactory at
    first Python-stage execution, so setting it on the live SparkConf
    before any Python job still applies; the root is appended to the
    worker PYTHONPATH via the context's executor environment (the
    factory cache keys on (module, env), so existing sessions simply
    build a fresh daemon).  A failure is logged and leaves the stock
    worker path untouched.
    """
    try:
        root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        sc = spark.sparkContext
        if os.path.exists(os.path.join(root, "pyspark_graft_worker.py")):
            jconf = sc._jsc.sc().conf()
            jconf.set("spark.python.worker.module", "pyspark_graft_worker")
        current = sc.environment.get("PYTHONPATH", "")
        if root not in current.split(":"):
            sc.environment["PYTHONPATH"] = (
                f"{current}:{root}" if current else root
            )
        # one BLAS thread per worker: tasks already use every core, so
        # letting each of 32 workers spawn its own OpenBLAS pool only
        # oversubscribes (guide §4.5 — heavyweight state per task);
        # must be in the env BEFORE the worker imports numpy.
        sc.environment.setdefault("OPENBLAS_NUM_THREADS", "1")
        sc.environment.setdefault("OMP_NUM_THREADS", "1")
    except Exception:
        log.warning("fast Python worker not enabled", exc_info=True)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Read the driver-generated parquet tables and register temp views.

    Views are registered under their bare table names so SQL-form queries
    (and the engine layer) can reference them exactly like the DuckDB
    oracle does.
    """
    tune_session(spark)
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        df = ts_micros(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def ts_micros(df: DataFrame) -> DataFrame:
    """``df`` with a ``ts`` read as nanos-as-long converted to a
    microsecond timestamp; any other ``df`` unchanged."""
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn("ts", _micros("ts"))


def _micros(col: str) -> Column:
    """Nanos-as-long column ``col`` as a microsecond timestamp (truncation
    matches DuckDB's TIMESTAMP_NS → TIMESTAMP cast)."""
    return F.expr(f"timestamp_micros(`{col}` div 1000)")
