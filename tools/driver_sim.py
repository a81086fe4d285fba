"""Simulate the driver's CORRECTNESS check locally.

Replicates (as closely as the traceback in CORRECTNESS_r01 reveals) the
driver's canonicalization: both results go through pandas
(``toPandas`` / duckdb ``.df()``), columns are sorted by name, rows are
sorted, and the value matrix is hashed via string repr.  This is the
trailing-zero-sensitive path that produced round 1's HASHFAILs, so a
green run here is the strongest local predictor of a green driver row.

Usage: python tools/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from multisql_spark.queries import load_all
from multisql_spark.tables import local_session
from multisql_spark.testing import duckdb_connection


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def _big_compare(spark, con, spec, name: str, sf_dir: str) -> dict:
    """Out-of-core exact compare for results too large for the pandas
    path (r10: the sf1000 ladder's 60-270M-row outputs OOM-killed
    ``toPandas`` / the driver hash).  The Spark result is written to
    parquet DISTRIBUTED-side, then DuckDB — whose hash set-ops spill to
    disk under SPARK_GRAFT_ORACLE_MEM/SPILL — computes the exact
    multiset difference against the oracle:

        (spark EXCEPT ALL oracle) UNION ALL (oracle EXCEPT ALL spark)

    A zero diff count is the same strictness as the repr-hash compare
    (for float64, shortest-repr equality <=> value equality; DuckDB
    groups NaN with NaN and NULL with NULL in set ops), while nothing
    row-scale ever crosses the driver.  Rows carry
    ``compare_mode: exceptall_parquet`` so artifacts are auditable."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    sdf = spec.fn(spark, sf_dir)
    scols = sorted(c.lower() for c in sdf.columns)
    ocols = sorted(
        d[0].lower()
        for d in con.execute(
            f"SELECT * FROM ({spec.oracle}) __o LIMIT 0"
        ).description
    )
    if scols != ocols:
        return {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "compare_mode": "exceptall_parquet",
            "spark_cols": scols,
            "oracle_cols": ocols,
        }
    out = tempfile.mkdtemp(prefix=f"bigcmp_{name}_")
    try:
        sdf.select(
            *[F.col(c).alias(c.lower()) for c in sdf.columns]
        ).select(*scols).write.mode("overwrite").parquet(out)
        collist = ", ".join(f'"{c}"' for c in scols)
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW __spark_res AS "
            f"SELECT {collist} FROM read_parquet('{out}/*.parquet')"
        )
        # TWO-PHASE: materialize the oracle result to parquet FIRST, so
        # the oracle's own spill (e.g. a window over 600M rows) and the
        # set-op's hash spill never share the temp budget — their
        # overlap blew the disk on the r10 sf1000 window names.
        # (sibling path: the spark view's glob '{out}/*.parquet' is
        # re-evaluated lazily and must never match the oracle file)
        con.execute(
            f"COPY (SELECT {collist} FROM ({spec.oracle}) __o) "
            f"TO '{out}_oracle.parquet' (FORMAT PARQUET)"
        )
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW __oracle_res AS "
            f"SELECT {collist} FROM read_parquet('{out}_oracle.parquet')"
        )
        n_s = con.execute("SELECT COUNT(*) FROM __spark_res").fetchone()[0]
        n_o = con.execute("SELECT COUNT(*) FROM __oracle_res").fetchone()[0]
        diff = con.execute(
            "SELECT COUNT(*) FROM ("
            "(SELECT * FROM __spark_res EXCEPT ALL "
            " SELECT * FROM __oracle_res)"
            " UNION ALL "
            "(SELECT * FROM __oracle_res EXCEPT ALL "
            " SELECT * FROM __spark_res)) __d"
        ).fetchone()[0]
        return {
            "rows_match": n_s == n_o,
            "schema_match": True,
            "hash_match": n_s == n_o and diff == 0,
            "compare_mode": "exceptall_parquet",
            "n_diff": int(diff),
            "spark_rows": int(n_s),
            "oracle_rows": int(n_o),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
        if os.path.exists(f"{out}_oracle.parquet"):
            os.unlink(f"{out}_oracle.parquet")


def _warm_up(spark, sf_dir: str) -> float:
    """Run one untimed query and return its wall time.  The session's
    first scan, its first generated code and its Python workers' start
    are paid here, so a name's ``wall_sec`` does not depend on whether it
    runs first."""
    import time

    t0 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy(
        "n_regionkey"
    ).count().collect()
    spark.range(n, numPartitions=n).mapInPandas(
        lambda batches: batches, "id long"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    big = {n for n in os.environ.get("DRIVER_SIM_BIG", "").split(",") if n}

    # memory-sink streaming results collect through task results; the 1g
    # default maxResultSize killed stream_stateful_sessionize at sf1000
    spark = local_session(
        "driver-sim",
        **{
            "spark.driver.maxResultSize": os.environ.get(
                "DRIVER_SIM_MAXRESULT", "8g"
            )
        },
    )
    con = duckdb_connection(sf_dir)
    registry = load_all()

    import time

    names = [n for n in registry if not only or n in only]
    warmup_sec = _warm_up(spark, sf_dir)
    print(f"warm-up {warmup_sec} s (not in any name's wall_sec)", flush=True)
    report: dict[str, dict] = {}
    n_red = 0
    for i, name in enumerate(names):
        spec = registry[name]
        row: dict = {}
        t0 = time.perf_counter()
        try:
            if name in big and spec.oracle is not None:
                row = _big_compare(spark, con, spec, name, sf_dir)
                row["wall_sec"] = round(time.perf_counter() - t0, 3)
                ok = row.get("hash_match") and not row.get("err")
                if not ok:
                    n_red += 1
                report[name] = row
                tag = "ok " if ok else "RED"
                print(
                    f"[{i + 1:3d}/{len(names)}] {tag} {name} (bigcompare) "
                    f"{'' if ok else json.dumps(row)[:400]}",
                    flush=True,
                )
                continue
            sdf = spec.fn(spark, sf_dir).toPandas()
            if spec.oracle is None:
                row = {"rows_only": True, "spark_rows": len(sdf)}
            else:
                odf = con.execute(spec.oracle).df()
                sc, oc = _canon(sdf), _canon(odf)
                row = {
                    "rows_match": len(sc) == len(oc),
                    "schema_match": list(sc.columns)
                    == [c.lower() for c in oc.columns]
                    or sorted(c.lower() for c in sc.columns)
                    == sorted(c.lower() for c in oc.columns),
                    "hash_match": _hash(sc) == _hash(oc),
                    "spark_rows": len(sc),
                    "oracle_rows": len(oc),
                }
                if not row["hash_match"] and row["rows_match"]:
                    mask = None
                    for col in sc.columns:
                        a = sc[col].astype(str).values
                        b = (
                            oc.rename(
                                columns={c: c.lower() for c in oc.columns}
                            )[col].astype(str).values
                            if col
                            in {c.lower() for c in oc.columns}
                            else None
                        )
                        if b is None:
                            continue
                        bad = a != b
                        if bad.any():
                            k = bad.argmax()
                            row.setdefault("first_diff", {})[col] = [
                                str(a[k]),
                                str(b[k]),
                            ]
        except ConnectionRefusedError:
            # The JVM gateway is GONE (OOM-killed mid-chunk): every
            # remaining name would red-cascade with the same error and
            # the complete-looking artifact would record them as real
            # verdicts.  Hard-exit WITHOUT an artifact instead, so
            # sf1_sweep's crash isolation gives each pending name its
            # own fresh JVM (r9: a co-running sweep's memory spike
            # cascaded 15 false reds this way).
            print(f"JVM gateway lost at {name}; aborting chunk", flush=True)
            os._exit(13)
        except Exception as exc:
            # keep the exception TYPE+message (head) as well as the
            # stack tail — a tail-only slice of a JVM stacktrace loses
            # the root cause (r10: part_affinity_pairs' red was
            # undiagnosable from its artifact)
            tb = traceback.format_exc(limit=3)
            row = {"err": f"{type(exc).__name__}: {str(exc)[:500]}\n"
                          + tb[-800:]}
        row["wall_sec"] = round(time.perf_counter() - t0, 3)
        ok = row.get("hash_match", row.get("rows_only", False)) and not row.get("err")
        if not ok:
            n_red += 1
        report[name] = row
        tag = "ok " if ok else "RED"
        print(f"[{i + 1:3d}/{len(names)}] {tag} {name} {'' if ok else json.dumps(row)[:400]}", flush=True)
        if os.environ.get("DRIVER_SIM_CRASH_AFTER") == name:
            # harness self-test hook (tools/sf1_sweep.py): simulate an
            # OOM kill mid-chunk — hard exit, no artifact, no cleanup
            os._exit(137)

    print(f"\n{len(names) - n_red}/{len(names)} green")
    tag = os.path.basename(sf_dir.rstrip("/"))
    with open(f"/tmp/driver_sim_{tag}.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    # Every run also lands a segment artifact, keyed by the sweep label
    # (SWEEP_LABEL, e.g. "r4"), the sf tag, and a digest of the
    # query-name set — so re-running the same segment overwrites its own
    # file instead of clobbering other segments.  A labeled sweep is
    # durable, repo-tracked evidence under sweeps/ (VERDICT r3 ask #2);
    # an unlabeled gate run goes to the git-ignored .sweeps/, so it never
    # overwrites tracked evidence.
    label = os.environ.get("SWEEP_LABEL")
    seg = hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()[:8]
    sweeps_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sweeps" if label else ".sweeps",
    )
    label = label or "adhoc"
    os.makedirs(sweeps_dir, exist_ok=True)
    out = os.path.join(sweeps_dir, f"{label}_{tag}_{len(names)}q_{seg}.json")
    with open(out, "w") as f:
        json.dump(
            {
                "label": label,
                "sf": tag,
                "n_queries": len(names),
                "n_green": len(names) - n_red,
                "warmup_sec": warmup_sec,
                "queries": report,
            },
            f,
            indent=1,
            default=str,
        )
    print(f"sweep artifact: {out}")
    return 1 if n_red else 0


if __name__ == "__main__":
    sys.exit(main())
