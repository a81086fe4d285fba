"""Reference function-test corpus (tests/query/function/*.rs) run through
the engine's SQL dialect.

Expectations come from the reference's inline asserts. Documented
divergences (SURVEY §1.2/§2.8): our TIMESTAMP values are real timestamps
where the reference stores unix-second I64s (we assert the equivalent
instant), and Spark's static typing cannot express the reference's
dynamically-typed mixed-branch IIF results.
"""

from __future__ import annotations

import datetime
import uuid

import pytest

from multisql_spark.session import EngineError, MultiSQLSession


@pytest.fixture(scope="module")
def glue(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return MultiSQLSession(spark)


def one(glue, sql):
    rows = glue.execute(sql).rows
    assert len(rows) == 1
    return rows[0]


# --- tests/query/function/upper_lower.rs -----------------------------------


def test_upper_lower(glue):
    glue.execute("DROP TABLE IF EXISTS ULItem")
    # reference upper_lower.rs:6: opt_name is nullable
    glue.execute("CREATE TABLE ULItem (name TEXT, opt_name TEXT NULL)")
    glue.execute(
        "INSERT INTO ULItem VALUES ('abcd', 'efgi'), ('Abcd', NULL),"
        " ('ABCD', 'EfGi')"
    )
    assert sorted(
        glue.execute(
            "SELECT name FROM ULItem WHERE LOWER(name) = 'abcd'"
        ).rows
    ) == [("ABCD",), ("Abcd",), ("abcd",)]
    assert glue.execute(
        "SELECT LOWER(name) AS lower, UPPER(name) AS upper FROM ULItem"
    ).rows == [("abcd", "ABCD")] * 3
    out = glue.execute("VALUES (LOWER('Abcd'), UPPER('abCd'))")
    assert out.labels == ["unnamed_0", "unnamed_1"]
    assert out.rows == [("abcd", "ABCD")]
    with pytest.raises(EngineError):
        glue.execute("SELECT WHATEVER(1) FROM ULItem")


# --- tests/query/function/case.rs ------------------------------------------


def test_case(glue):
    cases = [
        ("WHEN 1=0 THEN 1 WHEN 1=1 THEN 2 ELSE 3", 2),
        ("WHEN 1=0 THEN 1 WHEN 0=1 THEN 2 ELSE 3", 3),
        ("WHEN 1=1 THEN 1 WHEN 0=1 THEN 2 ELSE 3", 1),
    ]
    for body, expected in cases:
        assert one(glue, f"VALUES (CASE {body} END)") == (expected,)


# --- tests/query/function/func_other.rs ------------------------------------


def test_ifnull_nullif(glue):
    assert one(glue, "VALUES (IFNULL(NULL, 1))") == (1,)
    assert one(glue, "VALUES (IFNULL(0, 1))") == (0,)
    assert one(glue, "VALUES (NULLIF(0, 1))") == (0,)
    assert one(glue, "VALUES (NULLIF(1, 0))") == (1,)
    assert one(glue, "VALUES (NULLIF(1, 1))") == (None,)
    assert one(glue, "VALUES (NULLIF(NULL, 1))") == (None,)
    assert one(glue, "VALUES (NULLIF(1, NULL))") == (1,)
    # incomparable types are never equal (binary.rs:108-115)
    assert one(glue, "VALUES (NULLIF(1, 'String'))") == (1,)


def test_iif(glue):
    assert one(glue, "VALUES (IIF(TRUE, 0, 1))") == (0,)
    assert one(glue, "VALUES (IIF(FALSE, 0, 1))") == (1,)
    assert one(glue, "VALUES (IIF(1=1, 0, 1))") == (0,)
    assert one(glue, "VALUES (IIF(1=0, 0, 1))") == (1,)
    assert one(glue, "VALUES (IIF(NULL=0, 0, 1))") == (1,)
    # Value::Any mixed-branch results (func_other.rs:58-63): the chosen
    # branch keeps ITS OWN type per row — VARIANT-backed here, the
    # Payload surfaces a native int or str exactly like the reference
    r = one(glue, "VALUES (IIF(0=1, 'String', 1))")
    assert r == (1,) and isinstance(r[0], int)
    r = one(glue, "VALUES (IIF(1=1, 'String', 1))")
    assert r == ("String",) and isinstance(r[0], str)
    # non-boolean conditions error (func_other.rs:105-106)
    with pytest.raises(Exception):
        glue.execute("VALUES (IIF(NULL, 0, 1))")
    with pytest.raises(Exception):
        glue.execute("VALUES (IIF(7, 0, 1))")


def test_len_round_pow(glue):
    assert one(glue, "VALUES (LEN('Test'))") == (4,)
    assert one(glue, "VALUES (LEN('Test test'))") == (9,)
    assert one(
        glue,
        "VALUES (ROUND(1.7), ROUND(1.2), ROUND(0.9), ROUND(10000.7))",
    ) == (2.0, 1.0, 1.0, 10001.0)
    # POW of two ints stays integer (reference generic math)
    assert one(glue, "VALUES (POW(2, 2), POW(10, 3))") == (4, 1000)


def test_replace_concat(glue):
    assert one(
        glue,
        "VALUES ('Hello!', REPLACE('Hello!', '!', '?'),"
        " REPLACE('Hello!!!', '!', '?'))",
    ) == ("Hello!", "Hello?", "Hello???")
    assert one(
        glue,
        "VALUES (CONCAT('Aee', 'Bee'), CONCAT('Aee', 'Bee', 'Cee'))",
    ) == ("AeeBee", "AeeBeeCee")
    # CONCAT null-propagates (binary.rs:117-130)
    assert one(glue, "VALUES (CONCAT('Aee', 'Bee', 'Cee', NULL))") == (None,)


def test_uuid_rand(glue):
    (u,) = one(glue, "VALUES (UUID())")
    uuid.UUID(u)  # v4 string (reference's *intended* UUID, function.rs:114)
    r, ri, rn = one(glue, "VALUES (RAND(), RAND(2, 300), RAND(-10,10))")
    assert 0.0 <= r < 1.0
    assert 2 <= ri <= 300 and isinstance(ri, int)
    assert -10 <= rn <= 10
    with pytest.raises(EngineError):
        glue.execute("VALUES (RAND(1))")


# --- tests/query/function/left_right.rs ------------------------------------


def test_left_right(glue):
    glue.execute("DROP TABLE IF EXISTS LRItem")
    glue.execute("CREATE TABLE LRItem (name TEXT)")
    glue.execute(
        "INSERT INTO LRItem VALUES ('Blop mc blee'), ('B'),"
        " ('Steven the &long named$ folken!')"
    )
    assert sorted(
        glue.execute("SELECT LEFT(name, 3) AS test FROM LRItem").rows
    ) == [("B",), ("Blo",), ("Ste",)]
    assert sorted(
        glue.execute("SELECT RIGHT(name, 10) AS test FROM LRItem").rows
    ) == [("B",), ("d$ folken!",), ("op mc blee",)]
    assert one(glue, "SELECT LEFT('blue', 10) AS t") == ("blue",)
    assert one(glue, "SELECT LEFT('blunder', 3) AS t") == ("blu",)
    assert one(glue, "SELECT LEFT(CAST(NULL AS TEXT), 10) AS t") == (None,)
    assert one(
        glue, "SELECT LEFT('Words', CAST(NULL AS INTEGER)) AS t"
    ) == (None,)


# --- tests/query/function/convert.rs + convert_timestamp.rs ----------------


def ts(*args):
    return datetime.datetime(*args)


def test_convert(glue):
    assert one(glue, "VALUES (CONVERT('INTEGER', '1'))") == (1,)
    assert one(glue, "VALUES (CONVERT('BOOLEAN', 'true'))") == (True,)
    # reference asserts unix-second I64s; we return the same instants as
    # real timestamps (documented divergence, SURVEY §1.2)
    assert one(
        glue, "VALUES (CONVERT('TIMESTAMP', '2021-04-20', 'DATE'))"
    ) == (ts(2021, 4, 20),)  # 1618876800
    assert one(
        glue,
        "VALUES (CONVERT('TIMESTAMP', '2021-04-20 13:20', 'DATETIME'))",
    ) == (ts(2021, 4, 20, 13, 20),)  # 1618924800
    assert one(
        glue,
        "VALUES (CONVERT('TIMESTAMP', '2021-04-20 13:20:25', 'DATETIME'))",
    ) == (ts(2021, 4, 20, 13, 20, 25),)  # 1618924825
    assert one(glue, "VALUES (CONVERT('TIMESTAMP', '13:20', 'TIME'))") == (
        ts(1970, 1, 1, 13, 20),
    )  # 48000
    assert one(
        glue, "VALUES (CONVERT('TIMESTAMP', '13:20:25', 'TIME'))"
    ) == (ts(1970, 1, 1, 13, 20, 25),)  # 48025
    assert one(glue, "VALUES (CONVERT('TIMESTAMP', '2021-04-20', 22))") == (
        ts(2021, 4, 20),
    )
    assert one(
        glue, "VALUES (CONVERT('TIMESTAMP', '2021-04-20', '%Y-%m-%d'))"
    ) == (ts(2021, 4, 20),)
    assert one(
        glue,
        "VALUES (CONVERT('TEXT', 10000.921, 'MONEY'),"
        " CONVERT('TEXT', 10000.921, 'SEPARATED'))",
    ) == ("$10,000.92", "10,000.92")


def test_func_timestamp(glue):
    # tests/query/function/func_timestamp.rs
    assert one(
        glue,
        "VALUES (CONVERT('TEXT', DATEFROMPARTS(2001,2,3), '%Y-%m-%d'))",
    ) == ("2001-02-03",)
    assert one(
        glue, "VALUES (CONVERT('TEXT', 981158400, '%Y-%m-%d'))"
    ) == ("2001-02-03",)
    assert one(glue, "VALUES (DATEFROMPARTS(2001,2,3))") == (
        ts(2001, 2, 3),
    )  # 981158400
    assert one(glue, "VALUES (MONTH(981158400))") == (2,)
    assert one(
        glue,
        "VALUES (YEAR(981173106), MONTH(981173106), DAY(981173106),"
        " HOUR(981173106), MINUTE(981173106), SECOND(981173106))",
    ) == (2001, 2, 3, 4, 5, 6)
    assert one(
        glue,
        "VALUES (CONVERT('TEXT', DATEADD('DAY', 10, 981158400), '%Y-%m-%d'),"
        " CONVERT('TEXT', DATEADD('DAY', 30, 981158400), '%Y-%m-%d'),"
        " CONVERT('TEXT', DATEADD('DAY', 365, 981158400), '%Y-%m-%d'),"
        " CONVERT('TEXT', DATEADD('MONTH', 1, 981158400), '%Y-%m-%d'),"
        " CONVERT('TEXT', DATEADD('MONTH', 13, 981158400), '%Y-%m-%d'),"
        " CONVERT('TEXT', DATEADD('YEAR', 1, 981158400), '%Y-%m-%d'))",
    ) == (
        "2001-02-13",
        "2001-03-05",
        "2002-02-03",
        "2001-03-03",
        "2002-03-03",
        "2002-02-03",
    )
    # NOW() returns unix seconds like the reference (timestamp.rs:102-114)
    (now,) = one(glue, "VALUES (NOW())")
    assert isinstance(now, int)


# --- tests/query/function/func_cast.rs + misc/cast.rs ----------------------


def test_cast(glue):
    assert one(glue, "SELECT CAST('true' AS BOOLEAN) AS c") == (True,)
    assert one(glue, "SELECT CAST(1 AS BOOLEAN) AS c") == (True,)
    assert one(glue, "SELECT CAST('1' AS INTEGER) AS c") == (1,)
    # f64→int truncates (cast.rs:79-99)
    assert one(glue, "SELECT CAST(1.1 AS INTEGER) AS c") == (1,)
    assert one(glue, "SELECT CAST(TRUE AS INTEGER) AS c") == (1,)
    assert one(glue, "SELECT CAST('1.1' AS FLOAT) AS c") == (1.1,)
    assert one(glue, "SELECT CAST(1 AS FLOAT) AS c") == (1.0,)
    assert one(glue, "SELECT CAST(TRUE AS FLOAT) AS c") == (1.0,)
    assert one(glue, "SELECT CAST(1 AS TEXT) AS c") == ("1",)
    assert one(glue, "SELECT CAST(1.1 AS TEXT) AS c") == ("1.1",)
    assert one(glue, "SELECT CAST(TRUE AS TEXT) AS c") == ("true",)


# --- VALUES label parity (set_expr.rs:26-52) -------------------------------


def test_values_labels_and_int_division(glue):
    out = glue.execute("VALUES (5 / 2), (9 / 2)")
    assert out.labels == ["unnamed_0"]
    assert sorted(out.rows) == [(2,), (4,)]
    assert one(glue, "VALUES (5.0 / 2)") == (2.5,)


# --- tests/query/function/convert_timestamp.rs ------------------------------


def test_convert_timestamp_rules(glue):
    """Rule-code and named-rule parse chains (reference cast.rs:243-299);
    instants match the reference's unix-second asserts, returned as
    timestamps (documented divergence, SURVEY §1.2)."""
    cases = [
        ("CONVERT('TIMESTAMP', '981158400', 'TIMESTAMP')", ts(2001, 2, 3)),
        ("CONVERT('TIMESTAMP', '981158400', 0)", ts(2001, 2, 3)),
        ("CONVERT('TIMESTAMP', '2001-02-03', 'DATE')", ts(2001, 2, 3)),
        (
            "CONVERT('TIMESTAMP', '2001-02-03 04:05', 'DATETIME')",
            ts(2001, 2, 3, 4, 5),
        ),
        ("CONVERT('TIMESTAMP', '04:05', 'TIME')", ts(1970, 1, 1, 4, 5)),
        (
            "CONVERT('TIMESTAMP', '04:05:06', 'TIME')",
            ts(1970, 1, 1, 4, 5, 6),
        ),
        ("CONVERT('TIMESTAMP', '03/02/2001', 'DATE')", ts(2001, 2, 3)),
        # DD/MM ordering (Australian locale rules 060-064)
        ("CONVERT('TIMESTAMP', '13/02/2001', 'DATE')", ts(2001, 2, 13)),
        ("CONVERT('TIMESTAMP', '03-Feb-2001', 'DATE')", ts(2001, 2, 3)),
        ("CONVERT('TIMESTAMP', '03-Feb-01', 'DATE')", ts(2001, 2, 3)),
        ("CONVERT('TIMESTAMP', '03-Feb-2001', 32)", ts(2001, 2, 3)),
        ("CONVERT('TIMESTAMP', '03-Feb-01', 33)", ts(2001, 2, 3)),
        ("CONVERT('TIMESTAMP', '03/02/2001', 61)", ts(2001, 2, 3)),
        (
            "CONVERT('TIMESTAMP', '03/02/2001 04:05', 60)",
            ts(2001, 2, 3, 4, 5),
        ),
        # bare CAST runs the full fallback chain (cast.rs:249-252)
        ("CAST('03/02/2001 04:05' AS TIMESTAMP)", ts(2001, 2, 3, 4, 5)),
        ("CAST('981173100' AS TIMESTAMP)", ts(2001, 2, 3, 4, 5)),
        # an integer is epoch seconds (cast.rs rule 000)
        ("CAST(981173100 AS TIMESTAMP)", ts(2001, 2, 3, 4, 5)),
    ]
    for expr, want in cases:
        assert one(glue, f"VALUES ({expr})") == (want,), expr
    for bad in (
        "CONVERT('TIMESTAMP', '2001-02-03', 'DATETIME')",  # no time part
        "CONVERT('TIMESTAMP', '2001-02-03', 'TIME')",      # not a time
        "CONVERT('TIMESTAMP', '02/13/2001', 'DATE')",      # month 13
    ):
        with pytest.raises(EngineError):
            glue.execute(f"VALUES ({bad})")


# --- tests/query/function/misc_func_cast.rs ---------------------------------


def test_misc_func_cast(glue):
    glue.execute("DROP TABLE IF EXISTS CastItem")
    glue.execute(
        "CREATE TABLE CastItem (id INTEGER NULL, flag BOOLEAN,"
        " ratio FLOAT NULL, number TEXT)"
    )
    glue.execute("INSERT INTO CastItem VALUES (0, TRUE, NULL, '1')")
    assert one(
        glue, "SELECT CAST(LOWER(number) AS INTEGER) AS c FROM CastItem"
    ) == (1,)
    assert one(
        glue, "SELECT CAST(id AS BOOLEAN) AS c FROM CastItem"
    ) == (False,)
    assert one(
        glue, "SELECT CAST(flag AS TEXT) AS c FROM CastItem"
    ) == ("true",)
    # NULL propagates through CAST
    assert one(
        glue, "SELECT CAST(ratio AS INTEGER) AS c FROM CastItem"
    ) == (None,)


def test_nested_casts(glue):
    """Nested CAST forms keep each level's rewrite: ANY is the identity,
    TIMESTAMP runs the fallback chain over the rewritten operand, type
    names map inside CAST only, and schema-typed IIF branches of mixed
    kinds keep their own kinds."""
    import decimal

    glue.execute("DROP TABLE IF EXISTS NestCast")
    glue.execute(
        "CREATE TABLE NestCast (id INTEGER, s TEXT, n INTEGER, f FLOAT)"
    )
    glue.execute(
        "INSERT INTO NestCast VALUES (1, '03/02/2001 04:05', 981173100, 2.5)"
    )
    cases = [
        ("CAST(CAST(s AS ANY) AS TIMESTAMP)", ts(2001, 2, 3, 4, 5)),
        ("CAST(CAST('03/02/2001 04:05' AS TEXT) AS TIMESTAMP)",
         ts(2001, 2, 3, 4, 5)),
        ("TRY_CAST('junk' AS TIMESTAMP)", None),
        ("CAST(n AS TIMESTAMP)", ts(2001, 2, 3, 4, 5)),
        ("CAST(CAST(n AS ANY) AS TIMESTAMP)", ts(2001, 2, 3, 4, 5)),
        ("CAST(CAST(1.9 AS INT) AS TEXT)", "1"),
        ("CAST(f AS DECIMAL(10, 2))", decimal.Decimal("2.50")),
        ("IIF(id = 1, s, n)", "03/02/2001 04:05"),
        ("IIF(id = 2, s, n)", 981173100),
    ]
    for expr, want in cases:
        got = one(glue, f"SELECT {expr} AS c FROM NestCast")
        assert got == (want,) and type(got[0]) is type(want), expr
    out = glue.execute("SELECT 1 AS float FROM NestCast")
    assert (out.labels, out.rows) == (["float"], [(1,)])


# --- tests/api/cast_any.rs --------------------------------------------------


def test_cast_any_equivalences(glue):
    """Value-level cast equivalence matrix: casting either side of each
    pair to the target type yields the same value."""
    bool_pairs = [("FALSE", "'false'"), ("FALSE", "0"),
                  ("TRUE", "'true'"), ("TRUE", "1")]
    for a, b in bool_pairs:
        assert one(
            glue,
            f"VALUES (CAST({a} AS BOOLEAN) = CAST({b} AS BOOLEAN))",
        ) == (True,), (a, b)
    int_pairs = [("0", "FALSE"), ("0", "'0'"), ("0", "0.0"),
                 ("1", "TRUE"), ("1", "'1'"), ("1", "1.0"),
                 ("999", "'999'"), ("999", "999.0")]
    for a, b in int_pairs:
        assert one(
            glue,
            f"VALUES (CAST({a} AS INTEGER) = CAST({b} AS INTEGER))",
        ) == (True,), (a, b)
    float_pairs = [("0.0", "FALSE"), ("0.0", "'0.0'"), ("0.0", "0"),
                   ("1.0", "TRUE"), ("1.0", "'1.0'"), ("1.0", "1"),
                   ("999.99", "'999.99'"), ("999.0", "999")]
    for a, b in float_pairs:
        assert one(
            glue,
            f"VALUES (CAST({a} AS FLOAT) = CAST({b} AS FLOAT))",
        ) == (True,), (a, b)
    str_pairs = [("'false'", "FALSE"), ("'0'", "0"), ("'0.0'", "0.0"),
                 ("'true'", "TRUE"), ("'1'", "1"), ("'1.0'", "1.0")]
    for a, b in str_pairs:
        assert one(
            glue,
            f"VALUES (CAST({a} AS TEXT) = CAST({b} AS TEXT))",
        ) == (True,), (a, b)
