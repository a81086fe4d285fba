"""Spans and counters around the calls into each layer of the engine.

The tracer wraps public functions of the engine and of PySpark from the
outside; nothing under ``multisql_spark/`` changes.  Each span records
its name, start, end, parent and the id of the operation it belongs to.
Spans stay in memory and are written out once, at the end of a run.

Layers and the calls that delimit them:

========== ==============================================================
session    ``MultiSQLSession.execute`` / ``insert_vec`` (the statement)
dialect    ``multisql_spark.dialect.rewrite``
catalyst   ``SparkSession.sql`` (analysis) and forcing ``executedPlan``
           before a ``collect`` (optimisation and physical planning)
exec       ``collect`` / ``count`` / ``toPandas`` / ``localCheckpoint``
           / ``createDataFrame``
payload    ``Payload.select`` (its self time is the row conversion)
sources    ``DataFrameWriter`` calls (attached-file write-back)
queries    ``QuerySpec.fn`` (the benchmark calls it inside a span)
========== ==============================================================

Counters come from Spark itself after each traced operation, outside
its timed interval: jobs, stages and tasks through a per-operation job
group and the status tracker, and plan-node, scan-row, shuffle-byte and
Python-worker-byte counts from the operation's ``QueryExecution``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# DataFrameWriter methods that write files
_WRITER_METHODS = ("parquet", "csv", "json", "orc", "save")
# SQL metrics of the Python-evaluation nodes (mapInPandas, UDFs)
_PY_METRICS = ("pythonDataSent", "pythonDataReceived")


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op")

    def __init__(self, sid, name, start, parent, op):
        self.sid, self.name, self.start = sid, name, start
        self.end, self.parent, self.op = None, parent, op

    def as_dict(self):
        return {
            "id": self.sid,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "op": self.op,
        }


class Tracer:
    """Records spans while ``enabled``; every wrapper is a plain
    pass-through otherwise, so untraced operations in a traced run pay
    one attribute test per wrapped call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.op = None  # id of the operation being traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        # per-operation counters, filled by the wrappers
        self.counts: dict = {}

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent, self.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def bump(self, key, n=1):
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + n

    # -- per-operation scope ----------------------------------------------

    def begin_op(self, op_id, traced):
        """Tag the Spark jobs of the next operation with a job group."""
        self.enabled = traced
        self.op = op_id if traced else None
        self.counts = {}
        group = f"perfbench-{op_id}" if traced else "perfbench-untraced"
        self.sc.setJobGroup(group, group)

    def set_group(self, suffix):
        if self.enabled:
            group = f"perfbench-{self.op}-{suffix}"
            self.sc.setJobGroup(group, group)

    def end_op(self):
        self.enabled = False

    def job_counts(self, suffix=None):
        """(jobs, stages run, tasks run) of the current operation's job
        group; skipped stages, whose shuffle output was reused, are not
        counted.  Waits for the listener bus so the counts are final."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = f"perfbench-{self.op}" + (f"-{suffix}" if suffix else "")
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return len(jobs), stages, tasks

    # -- wrapping ------------------------------------------------------------

    def _patch(self, owner, attr, make):
        orig = owner.__dict__[attr]
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.session import SparkSession

        import multisql_spark.dialect as dialect
        from multisql_spark.payload import Payload
        from multisql_spark.session import MultiSQLSession

        tr = self

        def spanned(name, count=None):
            def make(orig):
                def wrapper(*a, **kw):
                    if not tr.enabled:
                        return orig(*a, **kw)
                    if count:
                        tr.bump(count)
                    with tr.span(name):
                        return orig(*a, **kw)

                wrapper.__wrapped__ = orig
                return wrapper

            return make

        self._patch(dialect, "rewrite", spanned("dialect.rewrite", "dialect.calls"))
        self._patch(MultiSQLSession, "execute", spanned("session.execute"))
        self._patch(MultiSQLSession, "insert_vec", spanned("session.insert_vec"))
        self._patch(SparkSession, "sql", spanned("catalyst.analyze"))
        self._patch(SparkSession, "createDataFrame", spanned("exec.action"))
        for attr in ("count", "toPandas"):
            self._patch(_owner(DataFrame, attr), attr, spanned("exec.action"))
        self._patch(
            _owner(DataFrame, "localCheckpoint"),
            "localCheckpoint",
            spanned("exec.action", "session.checkpoints"),
        )

        def make_collect(orig):
            def collect(df, *a, **kw):
                if not tr.enabled:
                    return orig(df, *a, **kw)
                # forcing the physical plan first splits planning time
                # from execution; collect would plan the same tree anyway
                with tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec.action"):
                    return orig(df, *a, **kw)

            collect.__wrapped__ = orig
            return collect

        self._patch(_owner(DataFrame, "collect"), "collect", make_collect)

        def make_select(orig):
            fn = orig.__func__

            def select(cls, df):
                if not tr.enabled:
                    return fn(cls, df)
                with tr.span("payload.select"):
                    out = fn(cls, df)
                tr.bump("payload.rows", len(out.rows))
                return out

            return classmethod(select)

        self._patch(Payload, "select", make_select)

        def make_writer(orig):
            def write(w, path=None, *a, **kw):
                if not tr.enabled:
                    return orig(w, path, *a, **kw)
                with tr.span("sources.flush"):
                    out = orig(w, path, *a, **kw)
                tr.bump("sources.bytes_written", _tree_bytes(path))
                return out

            write.__wrapped__ = orig
            return write

        for attr in _WRITER_METHODS:
            self._patch(DataFrameWriter, attr, make_writer)

    def uninstall(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output --------------------------------------------------------------

    def write_spans(self, path):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def _owner(cls, attr):
    for klass in cls.__mro__:
        if attr in klass.__dict__:
            return klass
    raise AttributeError(attr)


def _tree_bytes(path):
    if not path or not os.path.exists(path):
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


# -- self time -----------------------------------------------------------------


def self_times(spans):
    """{span id: self seconds}: a span's duration minus the time its
    direct children cover (children run one at a time, in one thread)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (
                s.end - s.start
            )
    return {s.sid: (s.end - s.start) - child_time.get(s.sid, 0.0) for s in spans}


def check_spans(spans, latencies, tol_s=0.002, tol_share=0.01):
    """Problems found in the span trees of the traced operations, as
    messages; none when

    - every traced operation has exactly one root span, and the root
      covers the operation's measured latency to within ``tol_s`` plus
      ``tol_share`` of it;
    - every other span lies within its parent, in the same operation;
    - no two children of one span overlap.

    Then every self time (:func:`self_times`) is at least zero, and the
    self times of an operation's spans add up to its root span.
    ``latencies`` maps the id of each traced operation to its latency in
    seconds."""
    problems = []
    by_id = {s.sid: s for s in spans}
    roots: dict[int, list[Span]] = {}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.end is None or s.end < s.start:
            problems.append(f"span {s.sid} {s.name} has no valid end")
        elif s.op not in latencies:
            problems.append(f"span {s.sid} {s.name} is in no traced operation")
        elif s.parent is None:
            roots.setdefault(s.op, []).append(s)
        elif (p := by_id.get(s.parent)) is None or p.op != s.op:
            problems.append(f"span {s.sid} {s.name} has no parent in its operation")
        elif s.start < p.start or p.end is None or s.end > p.end:
            problems.append(f"span {s.sid} {s.name} escapes its parent {p.sid} {p.name}")
        else:
            children.setdefault(p.sid, []).append(s)
    for kids in children.values():
        kids.sort(key=lambda s: s.start)
        for a, b in zip(kids, kids[1:]):
            if b.start < a.end:
                problems.append(f"spans {a.sid} {a.name} and {b.sid} {b.name} overlap")
    for op, latency in sorted(latencies.items()):
        rs = roots.get(op, [])
        if len(rs) != 1:
            problems.append(f"operation {op} has {len(rs)} root spans")
            continue
        uncovered = latency - (rs[0].end - rs[0].start)
        if not 0 <= uncovered <= tol_s + tol_share * latency:
            problems.append(
                f"operation {op}: its root span {rs[0].name} misses "
                f"{uncovered * 1000:.3f} ms of its latency"
            )
    return problems


# -- plan counters -------------------------------------------------------------


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _metric(node, key):
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_counters(df):
    """Scan rows, shuffle bytes written and Python-worker bytes of an
    executed DataFrame, summed over its final (post-AQE) physical plan.
    A reused exchange is not descended into: its work ran once."""
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    scan_rows = shuffle_bytes = python_bytes = 0
    todo = [root]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name.startswith("Reused"):
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        children = _seq(node.children())
        if not children:
            scan_rows += _metric(node, "numOutputRows")
        shuffle_bytes += _metric(node, "shuffleBytesWritten")
        for key in _PY_METRICS:
            python_bytes += _metric(node, key)
        todo.extend(children)
    return {
        "exec.scan_rows": scan_rows,
        "exec.shuffle_bytes": shuffle_bytes,
        "python.data_bytes": python_bytes,
    }


def table_plan_nodes(spark, table):
    """Node count of a table's analysed logical plan (one node a line)."""
    plan = spark.table(table)._jdf.queryExecution().analyzed()
    return len(plan.treeString().splitlines())
