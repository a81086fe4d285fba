"""Engine-layer tests modeled on the reference test corpus
(tests/ability/base/basic.rs, column_option/*, functionality/statement/*)."""

from __future__ import annotations

import pytest

from multisql_spark.session import EngineError, MultiSQLSession


@pytest.fixture(scope="module")
def glue(spark):
    return MultiSQLSession(spark)


def _fresh(glue, name):
    glue.execute(f"DROP TABLE IF EXISTS {name}")


def test_basic_select(glue):
    """Reference smoke test tests/ability/base/basic.rs:5-60."""
    _fresh(glue, "basic_0")
    glue.execute("CREATE TABLE basic_0 (id INTEGER, num INTEGER, name TEXT)")
    glue.execute(
        "INSERT INTO basic_0 (id, num, name) VALUES (1, 2, 'Hello')"
    )
    glue.execute(
        "INSERT INTO basic_0 (id, num, name) VALUES (1, 9, 'World')"
    )
    glue.execute(
        "INSERT INTO basic_0 (id, num, name) VALUES (3, 4, 'Great'), (4, 7, 'Job')"
    )
    out = glue.execute("SELECT id, num, name FROM basic_0 WHERE id > 1")
    assert out.labels == ["id", "num", "name"]
    assert sorted(out.rows) == [(3, 4, "Great"), (4, 7, "Job")]


def test_insert_select_and_update(glue):
    _fresh(glue, "basic_1")
    glue.execute("CREATE TABLE basic_1 (id INTEGER, num INTEGER, name TEXT)")
    p = glue.execute("INSERT INTO basic_1 SELECT id, num, name FROM basic_0")
    assert p.kind == "Insert" and p.count == 4
    p = glue.execute("UPDATE basic_1 SET id = 2")
    assert p.kind == "Update" and p.count == 4
    out = glue.execute("SELECT id FROM basic_1")
    assert [r[0] for r in out.rows] == [2, 2, 2, 2]
    p = glue.execute("UPDATE basic_1 SET num = num * 10 WHERE name = 'Job'")
    assert p.count == 1
    out = glue.execute("SELECT num FROM basic_1 WHERE name = 'Job'")
    assert out.rows == [(70,)]


def test_delete_truncate(glue):
    _fresh(glue, "d0")
    glue.execute("CREATE TABLE d0 (a INTEGER)")
    glue.execute("INSERT INTO d0 (a) VALUES (1),(2),(3),(4)")
    p = glue.execute("DELETE FROM d0 WHERE a >= 3")
    assert p.count == 2
    assert glue.execute("SELECT a FROM d0").count == 2
    glue.execute("TRUNCATE TABLE d0")
    assert glue.execute("SELECT a FROM d0").count == 0


def test_column_options(glue):
    _fresh(glue, "opts")
    glue.execute(
        "CREATE TABLE opts ("
        " id INTEGER AUTO_INCREMENT,"
        " name TEXT NOT NULL,"
        " code INTEGER UNIQUE,"
        " score FLOAT DEFAULT 1.5)"
    )
    glue.execute("INSERT INTO opts (name, code) VALUES ('a', 10), ('b', 20)")
    out = glue.execute("SELECT id, name, code, score FROM opts")
    assert sorted(out.rows) == [(1, "a", 10, 1.5), (2, "b", 20, 1.5)]
    # NOT NULL enforcement (reference validate.rs:276-282)
    with pytest.raises(EngineError):
        glue.execute("INSERT INTO opts (code) VALUES (30)")
    # UNIQUE enforcement (reference validate_unique.rs)
    with pytest.raises(EngineError):
        glue.execute("INSERT INTO opts (name, code) VALUES ('c', 10)")
    # auto-increment continues
    glue.execute("INSERT INTO opts (name, code) VALUES ('d', 40)")
    out = glue.execute("SELECT id FROM opts WHERE name = 'd'")
    assert out.rows == [(3,)]


def test_set_variable(glue):
    """Reference tests/functionality/statement/set.rs."""
    glue.execute("SET @variable = 1")
    out = glue.execute("SELECT 2 + @variable AS v")
    assert out.rows == [(3,)]
    _fresh(glue, "basic")
    glue.execute("CREATE TABLE basic (a INTEGER)")
    glue.execute("INSERT INTO basic (a) VALUES (1)")
    assert glue.execute("SELECT a FROM basic WHERE @variable = 1").count == 1
    assert glue.execute("SELECT a FROM basic WHERE @variable = 0").count == 0


def test_dialect_functions(glue):
    out = glue.execute(
        "SELECT IIF(TRUE, 'y', 'n') AS a, IFNULL(NULL, 5) AS b,"
        " NULLIF(3, 3) AS c, LEN('héllo') AS d,"
        " LEFT('spark', 2) AS e, ROUND(2.567, 2) AS f"
    )
    assert [tuple(float(v) if i == 5 else v for i, v in enumerate(r)) for r in out.rows] == [
        ("y", 5, None, 6, "sp", 2.57)
    ]


def test_timestamp_functions(glue):
    out = glue.execute(
        "SELECT YEAR(DATEFROMPARTS(2024, 3, 5)) AS y,"
        " MONTH(DATEADD('MONTH', 2, DATEFROMPARTS(2024, 3, 5))) AS m,"
        " DAY(CONVERT('TIMESTAMP', '2024-03-05', 022)) AS d,"
        " CONVERT('TEXT', 86400, 'DATETIME') AS s"
    )
    assert out.rows == [(2024, 5, 5, "1970-01-02 00:00:00")]


def test_views_and_explain(glue):
    _fresh(glue, "vt")
    glue.execute("CREATE TABLE vt (a INTEGER)")
    glue.execute("INSERT INTO vt (a) VALUES (1),(2),(3)")
    glue.execute("CREATE VIEW v_big AS SELECT a FROM vt WHERE a > 1")
    assert glue.execute("SELECT * FROM v_big").count == 2
    tables = glue.execute("EXPLAIN ALL_TABLE")
    # reference explain.rs:26-40: ALL_TABLE rows are (database, table)
    assert ("main", "vt") in tables.rows
    cols = glue.execute("EXPLAIN vt")
    # reference ValueType display (value_type/cast.rs:38): I64 → "Int"
    assert ("a", "Int") in cols.rows
    # beyond-reference: EXPLAIN <query> returns the Spark physical plan
    plan = glue.execute("EXPLAIN SELECT a FROM vt WHERE a > 1")
    assert plan.labels == ["plan"]
    assert any("Filter" in r[0] for r in plan.rows)


def test_alter_table(glue):
    _fresh(glue, "alt")
    _fresh(glue, "alt2")
    glue.execute("CREATE TABLE alt (a INTEGER)")
    glue.execute("INSERT INTO alt (a) VALUES (1)")
    glue.execute("ALTER TABLE alt ADD COLUMN b TEXT DEFAULT 'x'")
    assert glue.execute("SELECT a, b FROM alt").rows == [(1, "x")]
    glue.execute("ALTER TABLE alt RENAME COLUMN b TO c")
    assert glue.execute("SELECT c FROM alt").rows == [("x",)]
    glue.execute("ALTER TABLE alt DROP COLUMN c")
    assert glue.execute("SELECT * FROM alt").labels == ["a"]
    glue.execute("ALTER TABLE alt RENAME TO alt2")
    assert glue.execute("SELECT a FROM alt2").count == 1


def test_create_table_as_and_database(glue, sf_dir):
    _fresh(glue, "nat_copy")
    glue.execute(f"CREATE DATABASE tpch LOCATION '{sf_dir}/'")
    out = glue.execute("SELECT count(*) AS n FROM tpch.nation")
    assert out.rows == [(25,)]
    glue.execute(
        "CREATE TABLE nat_copy AS SELECT * FROM tpch.nation WHERE n_regionkey = 0"
    )
    assert glue.execute("SELECT count(*) AS n FROM nat_copy").rows[0][0] == 5
    dbs = glue.execute("EXPLAIN ALL")
    assert ("tpch",) in dbs.rows


def test_insert_vec_and_payload_convert(glue):
    _fresh(glue, "pv")
    glue.execute("CREATE TABLE pv (a INTEGER, b TEXT)")
    p = glue.insert_vec("pv", ["a", "b"], [(1, "x"), (2, "y")])
    assert p.count == 2
    out = glue.execute("SELECT a, b FROM pv")
    assert '"a": 1' in out.as_json()
    assert out.as_csv().startswith("a,b")


def test_execute_file(glue, tmp_path):
    _fresh(glue, "ef")
    script = tmp_path / "s.sql"
    script.write_text(
        "-- header: builds ef; sums it\n"
        "CREATE TABLE ef (a INTEGER, t TEXT);\n"
        "/* two rows; one INSERT */\n"
        "INSERT INTO ef (a, t) VALUES (1, \"x;y\"),(2, 'z'); -- a; b\n"
        "SELECT SUM(a) AS s FROM ef;"
    )
    out = glue.execute(f"EXECUTE FILE('{script}')")
    assert out.rows == [(3,)]
    assert glue.execute("SELECT t FROM ef WHERE a = 1").rows == [("x;y",)]


# Statements whose strings, quoted values or comments hold a separator
# (`;`, `,`, `)`, WHERE, WHEN MATCHED THEN): each is split and parsed as
# the reference's sqlparser lexes it.  The last three are guards on text
# the engine already split right.
_LEXED = [
    ('INSERT INTO lx VALUES (1, "a;b"); SELECT s FROM lx',
     ["s"], [("a;b",), ("x",), ("y",)]),
    ("-- header\nSELECT 1 AS one", ["one"], [(1,)]),
    ("SELECT 1 AS one -- a; b", ["one"], [(1,)]),
    ("CREATE TABLE lx2 (id INTEGER, s TEXT DEFAULT 'a,b');"
     " INSERT INTO lx2 (id) VALUES (1); SELECT * FROM lx2",
     ["id", "s"], [(1, "a,b")]),
    ("UPDATE lx SET s = 'p WHERE q' WHERE id = 2; SELECT * FROM lx",
     ["id", "s"], [(1, "x"), (2, "p WHERE q")]),
    ('UPDATE lx SET s = "c,d" WHERE id = 1; SELECT * FROM lx',
     ["id", "s"], [(1, "c,d"), (2, "y")]),
    ('MERGE INTO lx USING (SELECT 1 AS id, "e)f" AS s) AS src'
     " ON lx.id = src.id WHEN MATCHED THEN UPDATE SET s = src.s;"
     " SELECT * FROM lx",
     ["id", "s"], [(1, "e)f"), (2, "y")]),
    ("MERGE INTO lx USING (SELECT 2 AS id) AS src ON lx.id = src.id"
     " WHEN MATCHED THEN UPDATE SET s = 'x WHEN MATCHED THEN y';"
     " SELECT * FROM lx",
     ["id", "s"], [(1, "x"), (2, "x WHEN MATCHED THEN y")]),
    ("MERGE INTO lx USING (SELECT 1 AS id) AS src ON lx.id = src.id"
     " WHEN MATCHED THEN UPDATE SET"
     " s = CASE WHEN lx.id = 1 THEN 'one' ELSE 'other' END;"
     " SELECT * FROM lx",
     ["id", "s"], [(1, "one"), (2, "y")]),
    ("UPDATE lx SET s = 'it''s, ok', id = id + 10 WHERE id = 1;"
     " SELECT * FROM lx",
     ["id", "s"], [(2, "y"), (11, "it's, ok")]),
    ("CREATE VIEW lxv AS (SELECT 1 AS a) UNION (SELECT 2);"
     " SELECT * FROM lxv",
     ["a"], [(1,), (2,)]),
]


@pytest.mark.parametrize(
    "script, labels, rows", _LEXED, ids=[f"lex{i}" for i in range(len(_LEXED))]
)
def test_statements_lex_like_the_reference(glue, script, labels, rows):
    glue.execute("DROP TABLE IF EXISTS lx; DROP TABLE IF EXISTS lx2;"
                 " DROP VIEW IF EXISTS lxv")
    glue.execute("CREATE TABLE lx (id INTEGER, s TEXT);"
                 " INSERT INTO lx VALUES (1, 'x'), (2, 'y')")
    out = glue.execute(script)
    assert (out.labels, sorted(out.rows)) == (labels, rows)


@pytest.mark.parametrize("coldef, not_null, unique, default", [
    ("s TEXT NULL DEFAULT 'unique  key'", False, False, "'unique  key'"),
    ("t TEXT DEFAULT 'x NOT NULL y'", True, False, "'x NOT NULL y'"),
    ("u TEXT DEFAULT 'check'", True, False, "'check'"),
    ("w TEXT NULL DEFAULT 'primary key'", False, False, "'primary key'"),
], ids=["unique", "not_null", "check", "primary_key"])
def test_column_options_skip_string_literals(
    glue, coldef, not_null, unique, default
):
    """A column option inside a DEFAULT string literal is text, and the
    literal keeps its own spacing."""
    glue.execute(f"DROP TABLE IF EXISTS co; CREATE TABLE co ({coldef})")
    c = glue.tables["co"].columns[0]
    assert (c.not_null, c.unique, c.default) == (not_null, unique, default)


def _jobs_of(spark, fn):
    """The Spark jobs ``fn()`` starts, and its result: job ids from the
    status tracker before and after, once the listener bus has drained."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    bus.waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup(None)) - before), out


def _attach_parquet(glue, db, path, rows):
    """Write ``rows`` of (pk, fk, val) as ``<path>/t.parquet`` and attach
    the directory as database ``db``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    pq.write_table(
        pa.table(
            {
                "pk": pa.array([r[0] for r in rows], pa.int64()),
                "fk": pa.array([r[1] for r in rows], pa.int64()),
                "val": pa.array([r[2] for r in rows], pa.float64()),
            }
        ),
        str(path / "t.parquet"),
    )
    glue.execute(f"CREATE DATABASE {db} LOCATION '{path}'")


def test_insert_action_budget(glue, spark, tmp_path):
    """Each write makes one pass per version, with its counts and checks
    observed on that pass: the Spark jobs a warm single-row statement
    runs stay within its budget.  Managed INSERT: the batch, the
    broadcast of its key and the commit; attached INSERT: the batch and
    the write-back; UPDATE and DELETE: the one commit pass.  MERGE adds
    the source's broadcast and, checked, the stored version; an upsert
    adds the inserted batch and its key's broadcast."""
    from multisql_spark.session import UniqueViolation

    _fresh(glue, "jb")
    glue.execute("CREATE TABLE jb (pk INTEGER PRIMARY KEY, fk INTEGER, val FLOAT)")
    glue.insert_vec("jb", ["pk", "fk", "val"],
                    [(i, i % 7, i / 8) for i in range(2000)])
    _attach_parquet(glue, "jbatt", tmp_path / "jbatt",
                    [(i, i % 5, i / 4) for i in range(500)])

    def dup_insert():
        with pytest.raises(UniqueViolation):
            glue.execute("INSERT INTO jb (pk, fk, val) VALUES (5, 1, 0.5)")
        return 0

    budgets = [  # (statement, most jobs it may run, rows it affects)
        ("INSERT INTO jb (pk, fk, val) VALUES ({k}, 1, 0.5)", 3, 1),
        ("UPDATE jb SET fk = 3, val = 0.25 WHERE pk = {k}", 1, 1),
        ("DELETE FROM jb WHERE pk = {k}", 1, 1),
        ("INSERT INTO jbatt.t (pk, fk, val) VALUES ({k}, 1, 0.5)", 2, 1),
        ("UPDATE jbatt.t SET fk = 3, val = 0.25 WHERE pk = {k}", 1, 1),
        ("DELETE FROM jbatt.t WHERE pk = {k}", 1, 1),
    ]
    for t in ("jb", "jbatt.t"):
        budgets += [
            (f"INSERT INTO {t} (pk, fk, val) VALUES ({{k}}, 1, 0.5)", 3, 1),
            (f"MERGE INTO {t} USING (SELECT {{k}} AS pk, 4 AS fk) AS s"
             f" ON {t}.pk = s.pk WHEN MATCHED THEN UPDATE SET fk = s.fk",
             4, 1),
            (f"MERGE INTO {t} USING (SELECT {{k}} AS pk) AS s"
             f" ON {t}.pk = s.pk WHEN MATCHED THEN DELETE", 4, 1),
            (f"INSERT INTO {t} (pk, fk, val) VALUES ({{k}}, 1, 0.5)", 3, 1),
            # an upsert: one matched row and one inserted row
            (f"MERGE INTO {t} USING (SELECT * FROM VALUES ({{k}}, 5),"
             f" ({{k}} + 1000, 5) AS v(pk, fk)) AS s ON {t}.pk = s.pk"
             " WHEN MATCHED THEN UPDATE SET fk = s.fk"
             " WHEN NOT MATCHED THEN INSERT (pk, fk, val)"
             " VALUES (s.pk, s.fk, 0.0)", 8, 2),
            (f"DELETE FROM {t} WHERE pk >= {{k}}", 1, 2),
        ]
    try:
        for k in (9000, 9001):  # the first round warms up, the second counts
            ran = []
            for sql, budget, affected in budgets:
                stmt = sql.format(k=k)
                n, out = _jobs_of(spark, lambda: glue.execute(stmt))
                assert out.count == affected, stmt
                ran.append((stmt, n, budget))
            n, _ = _jobs_of(spark, dup_insert)
            ran.append(("duplicate-key INSERT", n, 3))
        for stmt, n, budget in ran:
            assert 1 <= n <= budget, (stmt, n, ran)
        assert glue.execute("SELECT count(*) FROM jb").rows == [(2000,)]
        assert glue.execute("SELECT count(*) FROM jbatt.t").rows == [(500,)]
    finally:
        glue.execute("DROP DATABASE jbatt")


def test_extend_reduce_api(glue, sf_dir):
    """Programmatic attach/detach (reference Glue::try_extend_from_path /
    Glue::reduce, glue/mod.rs:108-149)."""
    assert glue.extend("ext1", f"{sf_dir}/") is True
    assert glue.extend("ext1", f"{sf_dir}/") is False  # already attached
    assert glue.execute("SELECT COUNT(*) AS n FROM ext1.region").rows == [
        (5,)
    ]
    assert glue.reduce("ext1") is True
    assert glue.reduce("ext1") is False
    with pytest.raises(EngineError):
        glue.execute("SELECT COUNT(*) AS n FROM ext1.region")


def test_drop_database_cleans_state(glue, sf_dir):
    glue.execute(f"CREATE DATABASE dd1 LOCATION '{sf_dir}/'")
    assert glue.execute("SELECT COUNT(*) AS n FROM dd1.nation").count == 1
    glue.execute("DROP DATABASE dd1")
    with pytest.raises(EngineError):
        glue.execute("SELECT COUNT(*) AS n FROM dd1.nation")
    # re-attach works cleanly after the drop
    glue.execute(f"CREATE DATABASE dd1 LOCATION '{sf_dir}/'")
    assert glue.execute("SELECT COUNT(*) AS n FROM dd1.nation").count == 1
    glue.execute("DROP DATABASE dd1")


def test_select_converters(glue):
    """Glue-level SELECT-only converters (reference select.rs:14-82):
    non-SELECT statements raise QueryNotSupported-shaped errors."""
    _fresh(glue, "conv")
    glue.execute("CREATE TABLE conv (a INTEGER, b BOOLEAN NULL)")
    glue.execute("INSERT INTO conv (a, b) VALUES (1, TRUE), (2, NULL)")
    assert glue.select_as_string("SELECT a, b FROM conv ORDER BY a") == [
        ["a", "b"], ["1", "true"], ["2", "NULL"]
    ]
    assert glue.select_as_csv("SELECT a FROM conv ORDER BY a") == "a\n1\n2\n"
    assert '"a": 1' in glue.select_json("SELECT a FROM conv ORDER BY a")
    with pytest.raises(EngineError):
        glue.select_json("INSERT INTO conv (a, b) VALUES (3, TRUE)")


def test_typed_error_classes(glue):
    """Error families mirror the reference's typed enum (DIVERGENCES #15):
    host code can catch the specific class, all subclass EngineError."""
    from multisql_spark import (
        AlreadyExistsError,
        ColumnNotFoundError,
        NotNullViolation,
        TableNotFoundError,
        UniqueViolation,
        UnsupportedError,
    )

    _fresh(glue, "terr")
    glue.execute(
        "CREATE TABLE terr (a INTEGER NOT NULL, b INTEGER UNIQUE)"
    )
    glue.execute("INSERT INTO terr (a, b) VALUES (1, 1)")
    with pytest.raises(TableNotFoundError):
        glue.execute("SELECT * FROM no_such_table_xyz")
    with pytest.raises(ColumnNotFoundError):
        glue.execute("INSERT INTO terr (nope) VALUES (1)")
    with pytest.raises(AlreadyExistsError):
        glue.execute("CREATE TABLE terr (a INTEGER)")
    with pytest.raises(NotNullViolation):
        glue.execute("INSERT INTO terr (a, b) VALUES (NULL, 2)")
    with pytest.raises(UniqueViolation):
        glue.execute("INSERT INTO terr (a, b) VALUES (2, 1)")
    with pytest.raises(UnsupportedError):
        glue.execute("COMMIT")
    # reference AlterError: CHECK and unknown types, on CREATE and ALTER
    for stmt in ("CREATE TABLE terr2 (a INTEGER CHECK (a > 0))",
                 "CREATE TABLE terr2 (a SOMEWHAT)",
                 "ALTER TABLE terr ADD COLUMN c INTEGER CHECK (c > 0)",
                 "ALTER TABLE terr ADD COLUMN c SOMEWHAT",
                 "ALTER TABLE terr ADD COLUMN c"):
        with pytest.raises(UnsupportedError):
            glue.execute(stmt)


def test_unconverted_jvm_failure_is_engine_error(glue, monkeypatch):
    """A JVM failure PySpark does not convert (a raw ``Py4JJavaError``)
    reaches the caller as an ``EngineError`` with the cause chained."""
    from py4j.protocol import Py4JJavaError

    # IndexOutOfBoundsException is not among the JVM exceptions PySpark
    # converts, so the call raises a raw Py4JJavaError
    empty = glue.spark._jvm.java.util.ArrayList()
    monkeypatch.setattr(glue, "_execute_one", lambda stmt: empty.get(0))
    with pytest.raises(EngineError) as info:
        glue.execute("SELECT 1")
    assert isinstance(info.value.__cause__, Py4JJavaError)


def test_group_by_alias_and_ordinal(glue):
    """Spark-native GROUP BY forms must not be mangled by the
    loose-group-by rewrite (reference has neither form; strict
    superset): grouping by a select-item alias or by 1-based ordinal
    leaves that item grouped, not wrapped in first()."""
    _fresh(glue, "galias")
    glue.execute("CREATE TABLE galias (k INTEGER, v INTEGER)")
    glue.execute(
        "INSERT INTO galias (k, v) VALUES (1, 10), (1, 20), (2, 30)"
    )
    out = glue.execute(
        "SELECT k AS grp, SUM(v) AS s FROM galias GROUP BY grp"
    )
    assert out.labels == ["grp", "s"]
    assert sorted(out.rows) == [(1, 30), (2, 30)]
    out = glue.execute("SELECT k, SUM(v) AS s FROM galias GROUP BY 1")
    assert out.labels == ["k", "s"]
    assert sorted(out.rows) == [(1, 30), (2, 30)]
    # expression items grouped by ordinal
    out = glue.execute(
        "SELECT k + 1 AS k1, SUM(v) AS s FROM galias GROUP BY 1"
    )
    assert sorted(out.rows) == [(2, 30), (3, 30)]


def test_correlated_scalar_subquery(glue):
    """Correlated scalar subquery over managed tables after INSERTs.  A
    Union-shaped outer plan used to hit a Spark 4.1 planner fault
    (NoSuchElementException); a committed table version is one stored
    leaf, so the query plans directly, with no fallback."""
    _fresh(glue, "csq_p")
    _fresh(glue, "csq_c")
    glue.execute("CREATE TABLE csq_p (id INTEGER, cat INTEGER)")
    glue.execute("INSERT INTO csq_p (id, cat) VALUES (1, 1), (2, 2)")
    glue.execute("CREATE TABLE csq_c (cat INTEGER, label TEXT)")
    glue.execute(
        "INSERT INTO csq_c (cat, label) VALUES (1, 'low'), (2, 'high')"
    )
    sql = (
        "SELECT id, (SELECT label FROM csq_c WHERE csq_c.cat = csq_p.cat)"
        " AS lbl FROM csq_p"
    )
    assert sorted(glue.execute(sql).rows) == [(1, "low"), (2, "high")]
    # mutate after the fallback's checkpoint, query again (fresh Union)
    glue.execute("INSERT INTO csq_p (id, cat) VALUES (3, 1)")
    assert sorted(glue.execute(sql).rows) == [
        (1, "low"), (2, "high"), (3, "low")
    ]


def test_values_derived_table_labels(glue):
    """VALUES usable as a derived table / join operand with the
    reference's unnamed_{i} labels, and as a trailing set-op operand."""
    _fresh(glue, "vdt")
    glue.execute("CREATE TABLE vdt (id INTEGER)")
    glue.execute("INSERT INTO vdt (id) VALUES (1), (2), (3)")
    out = glue.execute("SELECT unnamed_0 FROM (VALUES (10), (20)) t")
    assert out.labels == ["unnamed_0"]
    assert sorted(out.rows) == [(10,), (20,)]
    out = glue.execute(
        "SELECT vdt.id AS pid FROM vdt"
        " JOIN (VALUES (1), (2)) v ON vdt.id = v.unnamed_0"
    )
    assert sorted(out.rows) == [(1,), (2,)]
    # explicit column aliases still win over unnamed_{i}
    out = glue.execute(
        "SELECT t.a FROM (VALUES (1, 'x'), (2, 'y')) AS t(a, b)"
    )
    assert sorted(out.rows) == [(1,), (2,)]
    # VALUES as the second set-operation operand; trailing ORDER BY /
    # LIMIT still scope over the whole set operation
    out = glue.execute("SELECT id FROM vdt UNION VALUES (99)")
    assert sorted(out.rows) == [(1,), (2,), (3,), (99,)]
    out = glue.execute(
        "SELECT id FROM vdt UNION VALUES (99) ORDER BY 1 DESC LIMIT 2"
    )
    assert out.rows == [(99,), (3,)]
    out = glue.execute("SELECT id FROM vdt WHERE id IN (VALUES (1), (3))")
    assert sorted(out.rows) == [(1,), (3,)]


def test_register_udf(glue):
    """Host-registered scalar functions are callable from engine SQL —
    both row-wise and Arrow-vectorized pandas variants (SURVEY §2.10:
    beyond-reference; the reference has no function extensibility)."""
    glue.execute("DROP TABLE IF EXISTS UdfT")
    glue.execute("CREATE TABLE UdfT (id INTEGER NULL, s TEXT NULL)")
    glue.execute(
        "INSERT INTO UdfT (id, s) VALUES (1, 'ab'), (2, 'xyz'), (3, NULL)"
    )

    glue.register_udf("shout", lambda s: s.upper() + "!" if s else None)
    assert sorted(
        glue.execute("SELECT shout(s) AS r FROM UdfT").rows,
        key=lambda r: (r[0] is None, r[0]),
    ) == [("AB!",), ("XYZ!",), (None,)]

    def squared(col):
        return col * col

    glue.register_udf("squared", squared, "bigint", pandas=True)
    assert sorted(
        glue.execute("SELECT squared(id) AS sq FROM UdfT").rows
    ) == [(1,), (4,), (9,)]


def test_register_udaf_and_udtf(glue):
    """Aggregate and table functions registered from the host language,
    used from engine SQL (SURVEY §2.10 — the full UDF/UDAF/UDTF surface
    the reference lacks)."""
    import pandas as pd

    glue.execute("DROP TABLE IF EXISTS FnT")
    glue.execute("CREATE TABLE FnT (g INTEGER, x INTEGER)")
    glue.execute(
        "INSERT INTO FnT (g, x) VALUES (1, 2), (1, 8), (2, 5), (2, 5)"
    )

    def second_moment(v: pd.Series) -> float:
        return float((v.astype("float64") ** 2).mean())

    glue.register_udaf("second_moment", second_moment, "double")
    assert glue.execute(
        "SELECT g, second_moment(x) AS m2 FROM FnT GROUP BY g ORDER BY g"
    ).rows == [(1, 34.0), (2, 25.0)]

    from pyspark.sql.functions import udtf

    @udtf(returnType="word STRING, wlen INT")
    class SplitWords:
        def eval(self, s: str):
            for w in (s or "").split(" "):
                yield (w, len(w))

    glue.register_udtf("split_words", SplitWords)
    assert glue.execute(
        "SELECT word, wlen FROM split_words('scan join agg')"
    ).rows == [("scan", 4), ("join", 4), ("agg", 3)]


def test_merge_upsert_delete_and_errors(glue):
    """MERGE INTO (beyond-reference): matched UPDATE, unmatched INSERT
    through the validated write path, matched DELETE, standard-mandated
    error on a target row matching multiple source rows."""
    import pytest

    from multisql_spark.session import EngineError

    _fresh(glue, "m_t")
    _fresh(glue, "m_s")
    glue.execute("CREATE TABLE m_t (id INTEGER, v TEXT NULL, n INTEGER NULL)")
    glue.execute("INSERT INTO m_t VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
    glue.execute("CREATE TABLE m_s (id INTEGER, v TEXT NULL)")
    glue.execute("INSERT INTO m_s VALUES (2,'B'),(4,'D')")
    p = glue.execute(
        "MERGE INTO m_t USING m_s ON m_t.id = m_s.id"
        " WHEN MATCHED THEN UPDATE SET v = m_s.v, n = m_t.n + 1"
        " WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (m_s.id, m_s.v, 0)"
    )
    assert p.kind == "Merge" and p.count == 2
    assert sorted(glue.execute("SELECT * FROM m_t").rows) == [
        (1, "a", 10), (2, "B", 21), (3, "c", 30), (4, "D", 0),
    ]
    p = glue.execute(
        "MERGE INTO m_t USING (SELECT 4 AS id) AS s ON m_t.id = s.id"
        " WHEN MATCHED THEN DELETE"
    )
    assert p.count == 1
    assert sorted(r[0] for r in glue.execute("SELECT id FROM m_t").rows) \
        == [1, 2, 3]
    # the affected count is the rows updated, deleted or inserted: an
    # insert-only MERGE does not count the matched rows it leaves alone
    p = glue.execute(
        "MERGE INTO m_t USING (SELECT 2 AS id, 'X' AS v UNION ALL"
        " SELECT 5, 'e') AS s ON m_t.id = s.id"
        " WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, 5)"
    )
    assert p.count == 1
    assert sorted(glue.execute("SELECT * FROM m_t").rows) == [
        (1, "a", 10), (2, "B", 21), (3, "c", 30), (5, "e", 5),
    ]
    glue.execute("DELETE FROM m_t WHERE id = 5")
    glue.execute("INSERT INTO m_s VALUES (2,'Z')")
    with pytest.raises(EngineError, match="multiple source rows"):
        glue.execute(
            "MERGE INTO m_t USING m_s ON m_t.id = m_s.id"
            " WHEN MATCHED THEN UPDATE SET v = m_s.v"
        )
    with pytest.raises(EngineError):
        glue.execute(
            "MERGE INTO m_t USING m_s ON m_t.id = m_s.id"
            " WHEN NOT MATCHED THEN DELETE"
        )


def test_update_and_merge_assign_alike(glue):
    """UPDATE and a matched MERGE UPDATE take one assignment path: the
    same SET expression is accepted by both with equal rows when every
    `int / int` value it assigns to an INTEGER column is integral, and
    rejected by both with the same error when a value is fractional."""

    def fresh():
        _fresh(glue, "divp")
        glue.execute("CREATE TABLE divp (id INTEGER, n INTEGER)")
        glue.execute("INSERT INTO divp VALUES (1, 10), (2, 21)")

    def update(expr):
        return f"UPDATE divp SET n = {expr}"

    def merge(expr):
        return (
            "MERGE INTO divp USING (SELECT 1 AS id UNION ALL SELECT 2) AS s"
            f" ON divp.id = s.id WHEN MATCHED THEN UPDATE SET n = {expr}"
        )

    for expr in ("n / 2", "divp.n / 2"):
        got = []
        for stmt in (update(expr), merge(expr)):
            fresh()
            assert glue.execute(stmt).count == 2, stmt
            got.append(sorted(glue.execute("SELECT * FROM divp").rows))
        assert got == [[(1, 5), (2, 10)]] * 2, expr
    errors = []
    for stmt in (update("n / 4.0"), merge("n / 4.0")):
        fresh()
        with pytest.raises(EngineError) as err:
            glue.execute(stmt)
        errors.append(str(err.value))
        assert sorted(glue.execute("SELECT * FROM divp").rows) == [
            (1, 10), (2, 21),
        ], stmt
    assert errors[0] == errors[1], errors
    assert "incompatible data type for divp.n" in errors[0]


def test_insert_overwrite_replaces_contents(glue):
    """INSERT OVERWRITE replaces table data, keeps constraints and the
    auto-increment counter, and restores the old contents when the
    incoming batch fails validation."""
    import pytest

    from multisql_spark.session import EngineError, UniqueViolation

    _fresh(glue, "ow")
    glue.execute("CREATE TABLE ow (id INTEGER AUTO_INCREMENT, v TEXT UNIQUE)")
    glue.execute("INSERT INTO ow (v) VALUES ('a'), ('b')")
    p = glue.execute("INSERT OVERWRITE ow (v) VALUES ('c'), ('d'), ('e')")
    assert p.count == 3
    rows = sorted(glue.execute("SELECT id, v FROM ow").rows)
    # counter continued from 2 — overwrite is not a counter reset
    assert rows == [(3, "c"), (4, "d"), (5, "e")]
    with pytest.raises((EngineError, UniqueViolation)):
        glue.execute("INSERT OVERWRITE ow (v) VALUES ('x'), ('x')")
    # failed overwrite must not lose the previous contents
    assert sorted(r[0] for r in glue.execute("SELECT v FROM ow").rows) \
        == ["c", "d", "e"]
    glue.execute("INSERT OVERWRITE TABLE ow (v) VALUES ('z')")
    assert [r[0] for r in glue.execute("SELECT v FROM ow").rows] == ["z"]


def test_materialized_view_refresh_cycle(glue):
    """Materialized views pin their query's result until REFRESH: reads
    between refreshes see the stale snapshot; refresh re-evaluates; drop
    removes it."""
    import pytest

    from multisql_spark.session import TableNotFoundError

    _fresh(glue, "mv_base")
    glue.execute("DROP MATERIALIZED VIEW IF EXISTS mv_sum")
    glue.execute("CREATE TABLE mv_base (a INTEGER)")
    glue.execute("INSERT INTO mv_base (a) VALUES (1),(2),(3)")
    glue.execute(
        "CREATE MATERIALIZED VIEW mv_sum AS"
        " SELECT COUNT(1) AS n, SUM(a) AS s FROM mv_base"
    )
    assert glue.execute("SELECT n, s FROM mv_sum").rows == [(3, 6)]
    glue.execute("INSERT INTO mv_base (a) VALUES (10)")
    # stale until refreshed
    assert glue.execute("SELECT n, s FROM mv_sum").rows == [(3, 6)]
    glue.execute("REFRESH MATERIALIZED VIEW mv_sum")
    assert glue.execute("SELECT n, s FROM mv_sum").rows == [(4, 16)]
    glue.execute("DROP MATERIALIZED VIEW mv_sum")
    with pytest.raises(TableNotFoundError):
        glue.execute("REFRESH MATERIALIZED VIEW mv_sum")


def test_qualify_window_filter(glue):
    """QUALIFY (DuckDB/BigQuery-style window-filter sugar) rewrites into
    a nested windowed select; predicates may reference select-item
    aliases or inline window functions, and tail ORDER/LIMIT applies to
    the filtered rows."""
    glue.execute("CREATE TABLE Ql (grp INTEGER NULL, v INTEGER NULL)")
    glue.execute(
        "INSERT INTO Ql VALUES (1, 10), (1, 20), (2, 5), (2, 7), (2, 3)"
    )
    assert sorted(
        glue.execute(
            "SELECT grp, v, ROW_NUMBER() OVER "
            "(PARTITION BY grp ORDER BY v DESC) AS rn "
            "FROM Ql QUALIFY rn = 1"
        ).rows
    ) == [(1, 20, 1), (2, 7, 1)]
    assert sorted(
        glue.execute(
            "SELECT grp, v FROM Ql QUALIFY ROW_NUMBER() OVER "
            "(PARTITION BY grp ORDER BY v DESC) <= 2 "
            "ORDER BY grp, v LIMIT 3"
        ).rows
    ) == [(1, 10), (1, 20), (2, 5)]
    assert glue.execute(
        "SELECT grp, SUM(v) AS s FROM Ql GROUP BY grp "
        "QUALIFY RANK() OVER (ORDER BY SUM(v) DESC) = 1"
    ).rows == [(1, 30)]
    glue.execute("DROP TABLE Ql")


def test_recursive_cte(glue):
    """WITH RECURSIVE passes through the dialect to Spark 4's native
    recursive-CTE execution (beyond reference — the reference has plain
    CTEs only, tests/query/with.rs).  Bounded recursion: series
    generation and a DAG hierarchy rollup.  (Cycle-safe UNION recursion
    is not yet in Spark; cyclic graphs use the iterative semi-naive
    loop in operators/dedup.py::connected_components instead.)"""
    rows = glue.execute(
        "WITH RECURSIVE r (n) AS ("
        " SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 5"
        ") SELECT n FROM r ORDER BY n"
    ).rows
    assert rows == [(1,), (2,), (3,), (4,), (5,)]

    glue.execute("CREATE TABLE OrgR (id INTEGER, mgr INTEGER NULL)")
    glue.execute(
        "INSERT INTO OrgR VALUES (1, NULL), (2, 1), (3, 1), (4, 2), (5, 2)"
    )
    rows = glue.execute(
        "WITH RECURSIVE chain (id, depth) AS ("
        " SELECT id, 0 FROM OrgR WHERE mgr IS NULL"
        " UNION ALL"
        " SELECT o.id, c.depth + 1 FROM OrgR o JOIN chain c ON o.mgr = c.id"
        ") SELECT depth, COUNT(*) AS n FROM chain GROUP BY depth"
        " ORDER BY depth"
    ).rows
    assert rows == [(0, 1), (1, 2), (2, 2)]
    glue.execute("DROP TABLE OrgR")


def test_explain_analyze(glue):
    """EXPLAIN ANALYZE executes the query and returns the AQE-resolved
    executed plan (beyond reference — it has no plan introspection)."""
    glue.execute("CREATE TABLE Ea (v INTEGER NULL)")
    glue.execute("INSERT INTO Ea VALUES (1), (2), (3)")
    rows = glue.execute(
        "EXPLAIN ANALYZE SELECT SUM(v) AS s FROM Ea"
    ).rows
    text = "\n".join(r[0] for r in rows)
    assert "AdaptiveSparkPlan" in text and "isFinalPlan=true" in text
    assert "HashAggregate" in text
    glue.execute("DROP TABLE Ea")


def test_show_statements(glue, sf_dir):
    _fresh(glue, "sh1")
    glue.execute("CREATE TABLE sh1 (a INTEGER, b TEXT)")
    dbs = glue.execute("SHOW DATABASES")
    assert dbs.labels == ["database"] and ("main",) in dbs.rows
    tables = glue.execute("SHOW TABLES")
    assert ("sh1",) in tables.rows
    cols = glue.execute("SHOW COLUMNS FROM sh1")
    assert cols.rows == [("a", "Int"), ("b", "Text")]
    assert glue.execute("DESCRIBE sh1").rows == cols.rows
    assert glue.execute("DESC sh1").rows == cols.rows
    glue.execute(f"CREATE DATABASE IF NOT EXISTS shdb LOCATION '{sf_dir}/'")
    ext = glue.execute("SHOW TABLES FROM shdb")
    assert ("nation",) in ext.rows
    import pytest as _pytest

    from multisql_spark.session import UnsupportedError

    with _pytest.raises(UnsupportedError):
        glue.execute("SHOW GRANTS")


def test_export_import_database(glue, tmp_path):
    _fresh(glue, "exp1")
    _fresh(glue, "exp2")
    glue.execute(
        "CREATE TABLE exp1 (id INTEGER AUTO_INCREMENT, v TEXT UNIQUE)"
    )
    glue.execute("INSERT INTO exp1 (v) VALUES ('a'), ('b')")
    glue.execute("CREATE TABLE exp2 (x INTEGER NULL)")
    glue.execute("INSERT INTO exp2 VALUES (1), (NULL)")
    root = str(tmp_path / "dump")
    out = glue.execute(f"EXPORT DATABASE TO '{root}'")
    assert out.rows[0][0] >= 2

    glue.execute("DROP TABLE exp1")
    glue.execute("DROP TABLE exp2")
    res = glue.execute(f"IMPORT DATABASE FROM '{root}'")
    assert res.rows[0][0] >= 2
    assert sorted(glue.execute("SELECT * FROM exp1").rows) == [
        (1, "a"), (2, "b"),
    ]
    assert sorted(
        glue.execute("SELECT * FROM exp2").rows, key=lambda r: (r[0] is None, r)
    ) == [(1,), (None,)]
    # options survive: auto-increment continues, UNIQUE still enforced
    glue.execute("INSERT INTO exp1 (v) VALUES ('c')")
    assert (3, "c") in glue.execute("SELECT * FROM exp1").rows
    import pytest as _pytest

    from multisql_spark.session import UniqueViolation

    with _pytest.raises(UniqueViolation):
        glue.execute("INSERT INTO exp1 (v) VALUES ('a')")


def test_export_includes_dunder_named_table(glue, tmp_path, sf_dir):
    """A managed table legitimately named a__b must survive the dump:
    attached-db shadow entries are excluded structurally (their source),
    not by a '__' name substring (ADVICE r2 #3)."""
    _fresh(glue, "a__b")
    glue.execute("CREATE TABLE a__b (id INTEGER)")
    glue.execute("INSERT INTO a__b VALUES (7)")
    glue.execute(
        f"CREATE DATABASE IF NOT EXISTS expdb LOCATION '{sf_dir}/'"
    )
    root = str(tmp_path / "dump2")
    glue.execute(f"EXPORT DATABASE TO '{root}'")
    import json
    import os

    with open(os.path.join(root, "_manifest.json")) as fh:
        manifest = json.load(fh)
    assert "a__b" in manifest
    # attached-db tables are excluded by design (they live in sf_dir)
    assert not any(k.startswith("expdb__") for k in manifest)
    glue.execute("DROP TABLE a__b")
    glue.execute(f"IMPORT DATABASE FROM '{root}'")
    assert glue.execute("SELECT * FROM a__b").rows == [(7,)]


def test_committed_version_is_one_leaf(glue):
    """Every write commits a materialized version: after 40 mixed
    single-row INSERT / UPDATE / DELETE statements the table's plan is a
    single stored leaf, not a stack of 40 DML nodes, and its rows equal a
    plain-Python model of the same statements."""
    _fresh(glue, "flat")
    glue.execute(
        "CREATE TABLE flat (id INTEGER AUTO_INCREMENT, v INTEGER NULL)"
    )
    model: dict[int, int] = {}
    next_id = 1
    for i in range(40):
        if i % 4 == 3 and model:
            victim = min(model)
            glue.execute(f"DELETE FROM flat WHERE id = {victim}")
            del model[victim]
        elif i % 4 == 2 and model:
            target = max(model)
            glue.execute(f"UPDATE flat SET v = v + 100 WHERE id = {target}")
            model[target] += 100
        else:
            glue.execute(f"INSERT INTO flat (v) VALUES ({i})")
            model[next_id] = i
            next_id += 1
        plan = glue.tables["flat"].df._jdf.queryExecution().analyzed()
        assert plan.collectLeaves().length() == 1, i
    got = sorted(glue.execute("SELECT id, v FROM flat").rows)
    assert got == sorted(model.items())


def test_rejected_statements_leave_table_unchanged(glue):
    """A statement that fails validation changes nothing: the rows, the
    AUTO_INCREMENT counter and the committed version (the same DataFrame
    object) are all as they were before it."""
    from multisql_spark.session import NotNullViolation, UniqueViolation

    _fresh(glue, "atom")
    _fresh(glue, "atom_src")
    glue.execute(
        "CREATE TABLE atom (id INTEGER AUTO_INCREMENT, k INTEGER UNIQUE,"
        " v TEXT)"
    )
    glue.execute("INSERT INTO atom (k, v) VALUES (1, 'a'), (2, 'b')")
    glue.execute("CREATE TABLE atom_src (k INTEGER, v TEXT)")
    glue.execute("INSERT INTO atom_src VALUES (1, 'x'), (1, 'y'), (7, 'z')")
    state = glue.tables["atom"]
    before = (sorted(glue.execute("SELECT * FROM atom").rows),
              dict(state.auto_counter), state.df)
    rejected = [
        (UniqueViolation, "INSERT INTO atom (k, v) VALUES (3, 'c'), (1, 'd')"),
        (NotNullViolation, "INSERT INTO atom (k, v) VALUES (3, NULL)"),
        (UniqueViolation, "UPDATE atom SET k = 1"),
        (EngineError,
         "MERGE INTO atom USING atom_src ON atom.k = atom_src.k"
         " WHEN MATCHED THEN UPDATE SET v = atom_src.v"
         " WHEN NOT MATCHED THEN INSERT (k, v) VALUES (atom_src.k, 'n')"),
        # the matched branch alone is valid; the inserted row collides
        (UniqueViolation,
         "MERGE INTO atom USING (SELECT 1 AS k, 1 AS nk"
         " UNION ALL SELECT 5, 2) AS s ON atom.k = s.k"
         " WHEN MATCHED THEN UPDATE SET v = 'm'"
         " WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.nk, 'n')"),
        # one key, so only the commit pass's collision count sees it
        (UniqueViolation, "INSERT INTO atom (k, v) VALUES (2, 'c')"),
        # v is NOT NULL (the reference's default)
        (NotNullViolation, "UPDATE atom SET v = NULL WHERE k = 1"),
        (UniqueViolation, "UPDATE atom SET k = 1 WHERE k = 2"),
    ]
    for exc, sql in rejected:
        with pytest.raises(exc):
            glue.execute(sql)
        after = (sorted(glue.execute("SELECT * FROM atom").rows),
                 dict(state.auto_counter), state.df)
        assert after[:2] == before[:2], sql
        assert after[2] is before[2], sql


def test_rejected_attached_writes_leave_file_unchanged(glue, tmp_path):
    """On an attached table the checks run before the write-back: a
    rejected statement leaves the parquet file's bytes, the rows and the
    committed version as they were."""
    from multisql_spark.session import NotNullViolation, UniqueViolation

    _attach_parquet(glue, "rjatt", tmp_path / "rjatt",
                    [(1, 10, 0.5), (2, 20, 1.5)])
    try:
        glue.execute("ALTER TABLE rjatt.t ADD COLUMN nn INTEGER NOT NULL DEFAULT 0")
        glue.execute("CREATE UNIQUE INDEX rj_pk ON rjatt.t (pk)")
        glue.execute("INSERT INTO rjatt.t (pk, fk, val, nn) VALUES (3, 30, 2.5, 7)")
        path = tmp_path / "rjatt" / "t.parquet"
        state = glue.tables["rjatt__t"]
        before = (path.read_bytes(), state.df,
                  sorted(glue.execute("SELECT * FROM rjatt.t").rows))
        assert before[2] == [(1, 10, 0.5, 0), (2, 20, 1.5, 0), (3, 30, 2.5, 7)]
        rejected = [
            (NotNullViolation, "UPDATE rjatt.t SET nn = NULL WHERE pk = 2"),
            (NotNullViolation,
             "INSERT INTO rjatt.t (pk, fk, val, nn) VALUES (4, 40, 3.5, NULL)"),
            (UniqueViolation,
             "INSERT INTO rjatt.t (pk, fk, val, nn) VALUES (2, 40, 3.5, 1)"),
            (UniqueViolation, "UPDATE rjatt.t SET pk = 1 WHERE pk = 3"),
            # MERGE's checks run on its commit pass, after the version is
            # stored and before the write-back
            (EngineError,
             "MERGE INTO rjatt.t USING (SELECT 1 AS pk UNION ALL SELECT 1)"
             " AS s ON rjatt.t.pk = s.pk WHEN MATCHED THEN UPDATE SET fk = 9"),
            (NotNullViolation,
             "MERGE INTO rjatt.t USING (SELECT 2 AS pk) AS s"
             " ON rjatt.t.pk = s.pk WHEN MATCHED THEN UPDATE SET nn = NULL"),
        ]
        for exc, sql in rejected:
            with pytest.raises(exc):
                glue.execute(sql)
            assert path.read_bytes() == before[0], sql
            assert state.df is before[1], sql
            rows = sorted(glue.execute("SELECT * FROM rjatt.t").rows)
            assert rows == before[2], sql
    finally:
        glue.execute("DROP DATABASE rjatt")


def test_collision_check_without_broadcast(glue, spark):
    """With broadcast joins off, the commit pass's collision check runs
    as a shuffled anti join (as it does for a batch whose keys are too
    large to broadcast): a multi-row batch carrying one existing key is
    rejected, and a batch with no colliding key commits exactly its
    rows."""
    from multisql_spark.session import UniqueViolation

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    _fresh(glue, "nobc")
    glue.execute("CREATE TABLE nobc (k INTEGER PRIMARY KEY, v TEXT)")
    seed = [(i, f"s{i}") for i in range(1, 21)]
    glue.insert_vec("nobc", ["k", "v"], seed)
    spark.conf.set(key, "-1")
    try:
        with pytest.raises(UniqueViolation):
            glue.insert_vec("nobc", ["k", "v"],
                            [(100, "a"), (101, "b"), (7, "c"), (102, "d")])
        with pytest.raises(UniqueViolation):
            glue.execute("INSERT INTO nobc VALUES (200, 'x'), (3, 'y')")
        assert sorted(glue.execute("SELECT k, v FROM nobc").rows) == seed
        batch = [(100 + i, f"n{i}") for i in range(30)]
        assert glue.insert_vec("nobc", ["k", "v"], batch).count == 30
        assert glue.execute("INSERT INTO nobc VALUES (200, 'x')").count == 1
        got = sorted(glue.execute("SELECT k, v FROM nobc").rows)
        assert got == sorted(seed + batch + [(200, "x")])
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize("attached", [False, True], ids=["managed", "attached"])
def test_constant_predicates_match_model(glue, tmp_path, attached):
    """Predicates that fold to constants (WHERE 1 = 1, 1 = 0, NULL; DELETE
    without WHERE; an INSERT … SELECT of no rows) keep the counts the
    commit pass observes: each statement's affected count and the rows
    after it match a Python model of the table."""
    if attached:
        _attach_parquet(glue, "cfatt", tmp_path / "cfatt",
                        [(i, i * 10, i / 2) for i in range(1, 6)])
        t = "cfatt.t"
    else:
        _fresh(glue, "cf")
        glue.execute("CREATE TABLE cf (pk INTEGER PRIMARY KEY, fk INTEGER, val FLOAT)")
        glue.execute("INSERT INTO cf VALUES " + ", ".join(
            f"({i}, {i * 10}, {i / 2})" for i in range(1, 6)))
        t = "cf"
    model = {i: (i * 10, i / 2) for i in range(1, 6)}

    def rows():
        return sorted((k, *v) for k, v in model.items())

    def fk_plus_one():
        model.update({k: (fk + 1, val) for k, (fk, val) in model.items()})
        return len(model)

    def clear():
        n = len(model)
        model.clear()
        return n

    def refill():
        model.update({7: (70, 3.5), 8: (80, 4.0)})
        return 2

    steps = [
        (f"UPDATE {t} SET fk = 0 WHERE 1 = 0", lambda: 0),
        (f"UPDATE {t} SET fk = fk + 1 WHERE 1 = 1", fk_plus_one),
        (f"UPDATE {t} SET fk = 0 WHERE NULL", lambda: 0),
        (f"DELETE FROM {t} WHERE 1 = 0", lambda: 0),
        (f"DELETE FROM {t} WHERE NULL", lambda: 0),
        (f"INSERT INTO {t} SELECT pk + 100, fk, val FROM {t} WHERE 1 = 0",
         lambda: 0),
        (f"DELETE FROM {t} WHERE 1 = 1", clear),
        (f"INSERT INTO {t} VALUES (7, 70, 3.5), (8, 80, 4.0)", refill),
        (f"DELETE FROM {t}", clear),
    ]
    try:
        for sql, apply in steps:
            want = apply()
            assert glue.execute(sql).count == want, sql
            got = sorted(glue.execute(f"SELECT pk, fk, val FROM {t}").rows)
            assert got == rows(), sql
    finally:
        if attached:
            glue.execute("DROP DATABASE cfatt")


def test_tune_session_reports_what_it_cannot_set(caplog):
    """A conf the session refuses and a failed fast-worker set-up are
    logged on the ``multisql_spark`` logger, not dropped."""
    from multisql_spark.tables import tune_session

    class LockedConf:
        def set(self, key, value):
            raise RuntimeError(f"cannot set {key}")

    class LockedSession:
        conf = LockedConf()

        @property
        def sparkContext(self):
            raise RuntimeError("no context")

    with caplog.at_level("WARNING", logger="multisql_spark"):
        tune_session(LockedSession())
    messages = [r.getMessage() for r in caplog.records]
    assert any("spark.sql.session.timeZone" in m for m in messages)
    assert any("fast Python worker" in m for m in messages)


def test_local_cpus_follows_env_then_affinity(monkeypatch):
    from multisql_spark import tables

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert tables.local_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(tables.os, "sched_getaffinity", lambda _: {0, 2, 5, 7})
    assert tables.local_cpus() == 4


def test_factory_tunes_session_without_load_tables(spark):
    """The suite's session comes from ``local_session``, and the factory
    itself, not ``load_tables``, applies every runtime conf and the fast
    worker: with both stripped, asking the factory again (which returns
    the live session) restores all of them.  The package root is on the
    workers' ``PYTHONPATH``, since executors import ``multisql_spark``."""
    import os

    import multisql_spark
    from multisql_spark import tables

    assert spark.sparkContext.master == f"local[{tables.local_cpus()}]"
    assert spark.sparkContext.getConf().get("spark.driver.memory") == "8g"
    jconf = spark.sparkContext._jsc.sc().conf()
    try:
        for key in tables._SESSION_CONFS:
            spark.conf.unset(key)
        jconf.remove("spark.python.worker.module")
        assert tables.local_session("multisql_spark_tests") is spark
        for key, value in tables._SESSION_CONFS.items():
            assert spark.conf.get(key) == value, key
        worker = jconf.get("spark.python.worker.module", "")
        assert worker == "pyspark_graft_worker"
        root = os.path.dirname(os.path.dirname(multisql_spark.__file__))
        pythonpath = spark.sparkContext.environment["PYTHONPATH"]
        assert root in pythonpath.split(":")
    finally:
        tables.tune_session(spark)


def test_handed_in_session_runs_engine_confs(spark):
    """``MultiSQLSession(spark)`` sets the engine's runtime confs on the
    session it is given, as ``load_tables`` does, so both constructors
    plan with the same confs.  A new session starts from the defaults."""
    from multisql_spark.tables import _SESSION_CONFS

    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.shuffle.partitions") != (
        _SESSION_CONFS["spark.sql.shuffle.partitions"]
    )
    g = MultiSQLSession(fresh)
    assert g.spark is fresh
    for key, value in _SESSION_CONFS.items():
        assert fresh.conf.get(key) == value, key


def _size_in_bytes(df):
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def test_versions_carry_their_size(glue):
    """A managed table's stored version carries a size estimate that
    tracks its rows, through CREATE, an ``insert_vec`` load, single-row
    INSERTs, an UPDATE and a DELETE: finite and at most twice Catalyst's
    own rows × row width.  So a join of two managed tables that fit under
    the broadcast threshold is planned as a broadcast of the smaller."""
    _fresh(glue, "sz_a")
    _fresh(glue, "sz_b")
    glue.execute("CREATE TABLE sz_a (pk INTEGER PRIMARY KEY, v TEXT, f FLOAT)")
    assert _size_in_bytes(glue.tables["sz_a"].df) < 2**63 - 1
    glue.insert_vec("sz_a", ["pk", "v", "f"],
                    [(i, f"s{i}", i / 3) for i in range(10_000)])
    for i in range(20):
        glue.execute(f"INSERT INTO sz_a VALUES ({20_000 + i}, 'x', 0.5)")
    glue.execute("UPDATE sz_a SET v = 'u' WHERE pk = 5")
    assert glue.execute("DELETE FROM sz_a WHERE pk = 6").count == 1
    df = glue.tables["sz_a"].df
    width = 8 + df._jdf.schema().defaultSize()  # Catalyst's row estimate
    assert 0 < _size_in_bytes(df) <= 2 * 10_019 * width

    glue.execute("CREATE TABLE sz_b (pk INTEGER PRIMARY KEY, fk INTEGER)")
    for lo in (0, 50_000):
        glue.insert_vec("sz_b", ["pk", "fk"],
                        [(i, i % 10_000) for i in range(lo, lo + 50_000)])
    plan = glue.sql(
        "SELECT sz_a.pk, count(*) FROM sz_a JOIN sz_b ON sz_a.pk = sz_b.fk"
        " GROUP BY sz_a.pk"
    )._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in plan  # the initial plan, before AQE
    join = next(ln for ln in plan.splitlines() if "Join" in ln)
    assert "BroadcastHashJoin" in join and "BuildLeft" in join, plan


def test_insert_vec_batches_keep_insertion_order(glue):
    """100k rows loaded into a PK table by ``insert_vec`` in 5k-row
    batches, at the default broadcast threshold: every batch's collision
    check streams the stored rows against the broadcast batch keys, so
    an unordered SELECT returns the rows in insertion order."""
    _fresh(glue, "ordv")
    glue.execute("CREATE TABLE ordv (pk INTEGER PRIMARY KEY, v INTEGER)")
    keys = [(i * 7919) % 100_000 for i in range(100_000)]  # not sorted
    for lo in range(0, 100_000, 5_000):
        batch = [(k, lo) for k in keys[lo:lo + 5_000]]
        assert glue.insert_vec("ordv", ["pk", "v"], batch).count == 5_000
    got = [r[0] for r in glue.execute("SELECT pk FROM ordv").rows]
    assert got == keys


def test_insert_vec_rejects_values_its_types_cannot_hold(glue):
    """``insert_vec`` builds its batch in the table's column types: a
    value that type cannot hold, or a row of the wrong length, raises an
    engine error and leaves the table unchanged."""
    from multisql_spark.session import ColumnNotFoundError

    _fresh(glue, "vt")
    glue.execute("CREATE TABLE vt (a INTEGER, b TEXT NULL, c FLOAT NULL)")
    glue.insert_vec("vt", ["a", "c"], [(1, 2)])  # an int into FLOAT widens
    for rows in ([(2, "x", 0.5), ("three", "y", 0.5)],  # text into INTEGER
                 [(2**63, "x", 0.5)],  # beyond the int64 range
                 [(2, "x")]):  # a row of the wrong length
        with pytest.raises(EngineError):
            glue.insert_vec("vt", ["a", "b", "c"], rows)
    with pytest.raises(ColumnNotFoundError):
        glue.insert_vec("vt", ["a", "nope"], [(2, "x")])
    assert glue.execute("SELECT a, b, c FROM vt").rows == [(1, None, 2.0)]


def test_collision_names_its_unique_column(glue):
    """With two UNIQUE columns, the commit pass's collision check names
    the column whose key exists already, the first or the second, and a
    rejected batch leaves the table unchanged."""
    from multisql_spark.session import UniqueViolation

    _fresh(glue, "uq2")
    glue.execute("CREATE TABLE uq2 (a INTEGER UNIQUE, b TEXT UNIQUE)")
    glue.insert_vec("uq2", ["a", "b"], [(1, "x"), (2, "y")])
    with pytest.raises(UniqueViolation, match=r"uq2\.b$"):
        glue.execute("INSERT INTO uq2 VALUES (3, 'z'), (4, 'y')")
    with pytest.raises(UniqueViolation, match=r"uq2\.a$"):
        glue.insert_vec("uq2", ["a", "b"], [(5, "v"), (2, "w")])
    assert glue.execute("INSERT INTO uq2 VALUES (3, 'z')").count == 1
    assert sorted(glue.execute("SELECT a, b FROM uq2").rows) == [
        (1, "x"), (2, "y"), (3, "z")
    ]
