"""The three workloads: what each loads, which operations it times, and
how it checks their results.

A workload object has

- ``setup()``: create and load its tables through the public API, and
  return the number of rows loaded;
- ``ops()``: an endless, seeded stream of operations;
- ``run(op)``: perform one operation and return its result;
- ``check(records)``: after the timed loop, compare every result with an
  independent model and return the ids of the wrong ones;
- ``cycle``: the period of the stream's operation kinds; a run does
  whole cycles, and a traced run traces every other operation of its
  first two cycles and so covers each kind, with counters that repeat
  exactly at a fixed seed;
- ``cycle_s``: the seconds of ``--seconds`` that stand for one cycle: a
  run does ``max(1, seconds // cycle_s)`` cycles.  At 10 s that is one
  cycle of ``ref_bench`` and two of the others, whose first cycle, on a
  cold JVM, alone gave a CPU time per operation that spread 0.16-0.18
  over five seeds; with a second, warm cycle it spread 0.06-0.12.
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass, field

import numpy as np

# -- shared ------------------------------------------------------------------


@dataclass
class Op:
    kind: str  # "read" or "write"
    cls: str  # operation class, e.g. "point" or a registry name
    sql: str = ""
    table: str = ""  # the managed table the statement touches
    expect: object = None  # the model's answer, for checking afterwards
    user_bytes: int = 0  # bytes of user data the statement changes


@dataclass
class Record:
    i: int
    op: Op
    at: float  # seconds into the timed loop
    latency: float  # seconds
    result: object = None
    error: BaseException | None = None
    traced: bool = False
    counters: dict = field(default_factory=dict)


def _same_rows(got, want, tol=1e-9):
    """Multiset equality of row tuples, floats within ``tol`` (relative)."""
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(got), sorted(want)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                    x, y, rel_tol=tol, abs_tol=tol
                ):
                    return False
            elif x != y:
                return False
    return True


# -- ref_bench -----------------------------------------------------------------

# the reference's Criterion bench (benches/bench.rs), as BASELINE.md lists it
REF_QUERIES = {
    "filter": "SELECT * FROM {t} WHERE pk < 100",
    "point": "SELECT * FROM {t} WHERE pk = 100",
    "groupby": "SELECT SUM(val) FROM {t} GROUP BY fk",
    "join": "SELECT SUM(val) FROM A INNER JOIN {t} ON {t}.fk = A.pk GROUP BY A.pk",
}
REF_ROWS = {"A": 10_000, "B": 100_000, "C": 100_000}
LOAD_BATCH = 50_000  # rows per insert_vec call


class RefBench:
    """Tables A, B and C of the reference bench, built and loaded through
    ``MultiSQLSession``; the timed loop runs the four BASELINE queries on
    B (indexed) and on C (unindexed)."""

    name = "ref_bench"
    cycle_s = 14

    def __init__(self, spark, work_dir, seed):
        from multisql_spark import MultiSQLSession

        self.g = MultiSQLSession(spark)
        self.plan = [(q, t) for t in ("B", "C") for q in REF_QUERIES]
        self.cycle = len(self.plan)
        rng = np.random.default_rng(seed)
        self.data = {"A": {"pk": rng.permutation(REF_ROWS["A"])}}
        for t in ("B", "C"):
            n = REF_ROWS[t]
            self.data[t] = {
                "fk": rng.integers(0, 10_000, n),
                "val": rng.random(n),
            }
        self.load_failures = 0

    def setup(self):
        g = self.g
        g.execute("CREATE TABLE A (pk INTEGER PRIMARY KEY)")
        for t in ("B", "C"):
            g.execute(
                f"CREATE TABLE {t} (pk INTEGER AUTO_INCREMENT PRIMARY KEY, "
                "fk INTEGER, val FLOAT)"
            )
        g.execute("CREATE INDEX a_pk ON A (pk)")
        g.execute("CREATE INDEX b_pk ON B (pk)")
        for t, cols in self.data.items():
            names = list(cols)
            rows = list(zip(*(cols[c].tolist() for c in names)))
            for s in range(0, len(rows), LOAD_BATCH):
                batch = rows[s : s + LOAD_BATCH]
                if g.insert_vec(t, names, batch).count != len(batch):
                    self.load_failures += 1
        return sum(REF_ROWS.values())

    def ops(self):
        while True:
            for q, t in self.plan:
                cls = q if t == "B" else f"{q}_C"
                yield Op("read", cls, REF_QUERIES[q].format(t=t), table=t)

    def run(self, op):
        return self.g.execute(op.sql)

    def check(self, records):
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        con.register("A", pa.table({"pk": self.data["A"]["pk"]}))
        for t in ("B", "C"):
            cols = self.data[t]
            # AUTO_INCREMENT numbers rows 1..n in insertion order
            pk = np.arange(1, len(cols["fk"]) + 1)
            con.register(
                t, pa.table({"pk": pk, "fk": cols["fk"], "val": cols["val"]})
            )
        want = {}
        wrong = []
        for r in records:
            if r.error is not None:
                wrong.append(r.i)
                continue
            if r.op.sql not in want:
                want[r.op.sql] = con.execute(r.op.sql).fetchall()
            if not _same_rows(r.result.rows, want[r.op.sql]):
                wrong.append(r.i)
        con.close()
        return wrong, self.load_failures


# -- oltp_mix ------------------------------------------------------------------

OLTP_ROWS = 10_000  # preloaded rows of the managed table T
ATTACHED_ROWS = 2_000  # rows of the attached parquet table att.t
ROW_BYTES = 24  # pk, fk and val: three 8-byte values
# one cycle of the statement stream, as (table, kind): the mix is the same
# at every seed, the keys and values are drawn from it
OLTP_CYCLE = (
    ("T", "point"),
    ("T", "insert"),
    ("att.t", "point"),
    ("T", "update"),
    ("att.t", "insert"),
    ("T", "miss"),  # a point SELECT of a key that is not there
    ("T", "delete"),
    ("att.t", "update"),
    ("T", "dup_insert"),  # must raise UniqueViolation (T has a primary key)
    ("att.t", "delete"),
)


class _Keys:
    """The live keys of one table, with O(1) random pick and removal."""

    def __init__(self, rows):
        self.rows = dict(rows)  # pk -> (fk, val)
        self.order = list(self.rows)
        self.pos = {k: i for i, k in enumerate(self.order)}

    def pick(self, rng):
        return self.order[int(rng.integers(len(self.order)))]

    def add(self, k, row):
        self.rows[k] = row
        self.pos[k] = len(self.order)
        self.order.append(k)

    def remove(self, k):
        del self.rows[k]
        i = self.pos.pop(k)
        last = self.order.pop()
        if last != k:
            self.order[i] = last
            self.pos[last] = i


class OltpMix:
    """A seeded stream of single-row statements by key: point SELECT,
    INSERT, UPDATE, DELETE and rejected duplicate-key INSERT, on a
    managed table and on an attached parquet database."""

    name = "oltp_mix"
    cycle = len(OLTP_CYCLE)
    cycle_s = 5

    def __init__(self, spark, work_dir, seed):
        from multisql_spark import MultiSQLSession

        self.g = MultiSQLSession(spark)
        rng = np.random.default_rng(seed)
        self.rng = np.random.default_rng([seed, 1])  # the statement stream
        self.att_dir = os.path.join(work_dir, "att")
        self.models = {}
        for table, n in (("T", OLTP_ROWS), ("att.t", ATTACHED_ROWS)):
            pks = rng.permutation(n)
            fks = rng.integers(0, 10_000, n)
            vals = np.round(rng.random(n), 6)
            self.models[table] = _Keys(
                (int(k), (int(f), float(v))) for k, f, v in zip(pks, fks, vals)
            )
        self.next_key = {t: len(m.rows) for t, m in self.models.items()}
        self.preload = [
            (k, f, v) for k, (f, v) in self.models["T"].rows.items()
        ]

    def setup(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        g = self.g
        g.execute("CREATE TABLE T (pk INTEGER PRIMARY KEY, fk INTEGER, val FLOAT)")
        g.insert_vec("T", ["pk", "fk", "val"], self.preload)
        att = self.models["att.t"].rows
        os.makedirs(self.att_dir)
        pq.write_table(
            pa.table(
                {
                    "pk": pa.array(list(att), pa.int64()),
                    "fk": pa.array([f for f, _ in att.values()], pa.int64()),
                    "val": pa.array([v for _, v in att.values()], pa.float64()),
                }
            ),
            os.path.join(self.att_dir, "t.parquet"),
        )
        g.execute(f"CREATE DATABASE att LOCATION '{self.att_dir}'")
        self.preload = None
        return OLTP_ROWS

    def ops(self):
        while True:
            for table, kind in OLTP_CYCLE:
                yield self._op(table, kind)

    def _op(self, table, kind):
        """One statement; the model changes as the statement will."""
        rng, m = self.rng, self.models[table]
        # file bytes rewritten are set against the user bytes changed in
        # the attached table; the managed table writes no file
        user_bytes = ROW_BYTES if table != "T" else 0
        fk, val = int(rng.integers(0, 10_000)), round(float(rng.random()), 6)
        if kind in ("point", "miss"):
            k = m.pick(rng) if kind == "point" else self.next_key[table] + 1_000_000
            row = m.rows.get(k)
            return Op(
                "read",
                "point",
                f"SELECT pk, fk, val FROM {table} WHERE pk = {k}",
                table=table,
                expect=[] if row is None else [(k, *row)],
            )
        if kind in ("insert", "dup_insert"):
            if kind == "insert":
                k = self.next_key[table]
                self.next_key[table] += 1
                m.add(k, (fk, val))
                expect = 1
            else:
                k, expect, user_bytes = m.pick(rng), "UniqueViolation", 0
            return Op(
                "write",
                kind,
                f"INSERT INTO {table} (pk, fk, val) VALUES ({k}, {fk}, {val})",
                table=table,
                expect=expect,
                user_bytes=user_bytes,
            )
        k = m.pick(rng)
        if kind == "update":
            m.rows[k] = (fk, val)
            sql = f"UPDATE {table} SET fk = {fk}, val = {val} WHERE pk = {k}"
        else:
            m.remove(k)
            sql = f"DELETE FROM {table} WHERE pk = {k}"
        return Op("write", kind, sql, table=table, expect=1, user_bytes=user_bytes)

    def run(self, op):
        from multisql_spark import UniqueViolation

        try:
            return self.g.execute(op.sql)
        except UniqueViolation as exc:
            if op.expect == "UniqueViolation":
                return exc  # the expected rejection
            raise

    def check(self, records):
        from multisql_spark import UniqueViolation

        wrong = []
        for r in records:
            op, res = r.op, r.result
            if r.error is not None:
                ok = False
            elif op.expect == "UniqueViolation":
                ok = isinstance(res, UniqueViolation)
            elif op.kind == "read":
                ok = _same_rows(res.rows, op.expect)
            else:
                ok = res.count == op.expect
            if not ok:
                wrong.append(r.i)
        # the whole tables, through the engine and, for the attached
        # database, in the parquet file it wrote back
        final = 0
        for table, m in self.models.items():
            want = [(k, *row) for k, row in m.rows.items()]
            got = self.g.execute(f"SELECT pk, fk, val FROM {table}").rows
            final += not _same_rows(got, want)
        import pyarrow.parquet as pq

        disk = pq.read_table(os.path.join(self.att_dir, "t.parquet"))
        got = list(zip(*(disk.column(c).to_pylist() for c in ("pk", "fk", "val"))))
        want = [(k, *row) for k, row in self.models["att.t"].rows.items()]
        final += not _same_rows(got, want)
        return wrong, final


# -- registry ------------------------------------------------------------------

# one or more entries per family: relational, dedup, similarity, text and
# Python-worker (mapInPandas) kernels
REGISTRY_QUERIES = (
    "pricing_summary",
    "join_multi_revenue",
    "dedup_exact",
    "sim_bruteforce_topk",
    "text_token_stats",
    "mm_png_decode",
)


def canonical_hash(df):
    """The oracle gate's rule (``tools/driver_sim.py``): sort columns by
    name, sort rows, hash the ``repr`` of every row tuple."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort")
    h = hashlib.sha256()
    for row in df.reset_index(drop=True).itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


class Registry:
    """Registry queries over generated parquet tables, each built and
    run on a fresh plan: ``QuerySpec.fn``, then ``Payload.select``."""

    name = "registry"
    cycle = len(REGISTRY_QUERIES)
    cycle_s = 5

    def __init__(self, spark, work_dir, seed):
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "sf")
        self.tracer = None

    def setup(self):
        from multisql_spark.queries import load_all
        from multisql_spark.tables import load_tables

        from perfbench import datagen

        rows = datagen.star_schema(self.seed, self.sf_dir)
        load_tables(self.spark, self.sf_dir)
        self.specs = load_all()
        return rows

    def ops(self):
        while True:
            for name in REGISTRY_QUERIES:
                yield Op("read", name)

    def run(self, op):
        from multisql_spark import Payload

        tr = self.tracer
        spec = self.specs[op.cls]
        with tr.span("op"):
            tr.set_group("build")
            with tr.span("queries.build"):
                df = spec.fn(self.spark, self.sf_dir)
            tr.set_group("run")
            return Payload.select(df)

    def check(self, records):
        import pandas as pd

        from multisql_spark.testing import duckdb_connection

        con = duckdb_connection(self.sf_dir)
        want = {}
        wrong = []
        for r in records:
            if r.error is not None:
                wrong.append(r.i)
                continue
            name = r.op.cls
            if name not in want:
                want[name] = canonical_hash(
                    con.execute(self.specs[name].oracle).df()
                )
            got = pd.DataFrame.from_records(r.result.rows, columns=r.result.labels)
            if canonical_hash(got) != want[name]:
                wrong.append(r.i)
        con.close()
        return wrong, 0


WORKLOADS = {w.name: w for w in (RefBench, OltpMix, Registry)}
