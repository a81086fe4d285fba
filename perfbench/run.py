"""Session-path benchmark of the multisql_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload ref_bench --seed 1 --seconds 10 --trace 0

Runs one workload (``ref_bench``, ``oltp_mix`` or ``registry``; see
``workloads.py``) in this process on a fresh JVM at
``local[$SPARK_GRAFT_CPUS]`` (default: the number of usable cores).  It
loads the workload's seeded inputs, runs a closed loop with one client for
``--seconds`` seconds, checks every result, and prints a report followed by
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers in spans (``trace.py``), traces every other operation and reports
the per-layer metrics, including the tracing overhead measured against
the untraced operations of the same run.  Spans and a full report are
written to ``.perfbench/out/`` under the repository root.

The exit code is 0 only when every result was correct.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _isolate(work):
    """Send every temporary file of Python, DuckDB and the engine to
    ``work``; Spark's own directories are set in ``spark_env.confs``."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(tmp)
    os.chdir(work)


def timed_loop(wl, seconds, tracer, trace):
    """Run ``wl``'s operations back to back, in whole cycles:
    ``seconds // wl.cycle_s`` of them, at least one, and two when
    ``trace`` is set.  The count does not depend on how fast the run
    goes, so every run at one ``seconds`` does the same work: stopping
    on the clock let a run near the limit do one cycle or two, and CPU
    time per operation then took two values a third apart."""
    from perfbench.workloads import Record

    cycles = max(1 + bool(trace), int(seconds // wl.cycle_s))
    records = []
    ops = wl.ops()
    start = time.perf_counter()
    for i in range(cycles * wl.cycle):
        op = next(ops)
        # alternate, shifting by one each cycle so that every kind of
        # operation is traced within two cycles
        traced = bool(trace) and (i + i // wl.cycle) % 2 == 0
        if trace:
            tracer.begin_op(i, traced)
        t = time.perf_counter()
        try:
            result, error = wl.run(op), None
        except Exception as exc:  # counted as a failed operation
            result, error = None, exc
        latency = time.perf_counter() - t
        rec = Record(i, op, t - start, latency, result, error, traced)
        if traced:
            rec.counters = _op_counters(wl, tracer, rec)
        tracer.end_op()
        records.append(rec)
    return records, time.perf_counter() - start


def _op_counters(wl, tracer, rec):
    """Counters of one traced operation, read after it finished."""
    from perfbench import trace

    c = dict(tracer.counts)
    if wl.name == "registry":
        b_jobs, b_stages, b_tasks = tracer.job_counts("build")
        r_jobs, r_stages, r_tasks = tracer.job_counts("run")
        c["queries.build_jobs"] = b_jobs
        jobs, stages, tasks = b_jobs + r_jobs, b_stages + r_stages, b_tasks + r_tasks
    else:
        jobs, stages, tasks = tracer.job_counts()
        if rec.op.table:
            # an attached table's view is named <database>__<table>
            c["session.plan_nodes"] = trace.table_plan_nodes(
                wl.g.spark, rec.op.table.replace(".", "__")
            )
    c["session.jobs"], c["exec.stages"], c["exec.tasks"] = jobs, stages, tasks
    res = rec.result
    if getattr(res, "kind", None) == "Select" and res.dataframe is not None:
        c.update(trace.plan_counters(res.dataframe))
        c["exec.rows_out"] = res.count
    if rec.error is None and rec.op.user_bytes:
        c["sources.user_bytes"] = rec.op.user_bytes
    return c


def main(argv):
    from perfbench import stats

    try:
        args = stats.parse_flags(
            argv, {"workload": str, "seed": int, "seconds": float, "trace": int}
        )
    except ValueError as exc:
        return _fail(str(exc))
    if not (ROOT / "multisql_spark" / "__init__.py").is_file():
        return _fail(f"no multisql_spark package under {ROOT}")
    from perfbench.workloads import WORKLOADS

    if args["workload"] not in WORKLOADS:
        return _fail(f"unknown workload {args['workload']!r}")
    if args["trace"] not in (0, 1):
        return _fail("--trace takes 0 or 1")

    from perfbench import report, spark_env

    base = ROOT / ".perfbench"
    work = base / f"{args['workload']}-{args['seed']}-{os.getpid()}"
    out_dir = base / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    _isolate(work)
    try:
        # set-up is timed from the start of the process
        age0, t0 = spark_env.process_age_s(), time.perf_counter()
        spark = spark_env.start(str(work))
        jvm_s = age0 + time.perf_counter() - t0
        try:
            from perfbench.trace import Tracer

            wl = WORKLOADS[args["workload"]](spark, str(work), args["seed"])
            t = time.perf_counter()
            load_rows = wl.setup()
            load_s = time.perf_counter() - t
            # a tracer that is never installed nor enabled records nothing,
            # and its spans pass straight through
            tracer = wl.tracer = Tracer(spark)
            if args["trace"]:
                tracer.install()
            setup_s = age0 + time.perf_counter() - t0
            cpu0 = spark_env.cpu_seconds(os.getpid())
            records, wall = timed_loop(wl, args["seconds"], tracer, args["trace"])
            cpu_s = spark_env.cpu_seconds(os.getpid()) - cpu0
            tracer.uninstall()
            rss_mb = spark_env.peak_rss_mb([os.getpid(), spark_env.jvm_pid()])
            live_mb = spark_env.heap_live_mb(spark)
            wrong, other_failures = wl.check(records)
            confs = spark_env.recorded_confs(spark)
        finally:
            spark_env.stop(spark)
        run = report.Run(
            workload=wl.name,
            seed=args["seed"],
            traced=bool(args["trace"]),
            records=records,
            wall_s=wall,
            cpu_s=cpu_s,
            setup_s=setup_s,
            jvm_s=jvm_s,
            load_s=load_s,
            load_rows=load_rows,
            peak_rss_mb=rss_mb,
            heap_live_mb=live_mb,
            wrong=wrong,
            other_failures=other_failures,
            confs=confs,
        )
        if args["trace"]:
            run.trace_ops = 2 * wl.cycle
            run.spans = tracer.spans
            tracer.write_spans(
                out_dir / f"{wl.name}-seed{args['seed']}-spans.jsonl"
            )
        result, lines, full = report.build(run)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    (out_dir / f"{wl.name}-seed{args['seed']}-trace{args['trace']}.json").write_text(
        json.dumps(full, indent=1, default=str)
    )
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main(sys.argv[1:]))
