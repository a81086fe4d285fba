"""Property-based tests aimed directly at the dialect rewriter
(multisql_spark/dialect.py) — the highest-risk bespoke code in the
engine (VERDICT r2 ask #8).

Where test_property_parity.py exercises the generic expression surface,
this file targets the rewriter's TRANSFORM clusters, the places where a
tokenizer/regex bug would silently change semantics:

- the `/` division rewrite (int÷int truncating, float÷float IEEE,
  divide-by-zero → NULL, literal-vs-runtime dispatch) —
  dialect._rewrite_division / _div_case;
- the CAST type-map (TEXT/INT/FLOAT renames, float→int truncation,
  bool→int) — dialect._rewrite_casts;
- the math call transforms (POW int^int→I64 static dispatch, ROUND /
  FLOOR / CEIL / ABS / SQRT / %);
- the timestamp transforms (DATEADD unit plumbing, DATEFROMPARTS,
  YEAR..SECOND extraction over epoch seconds) — _xform_dateadd /
  _xform_datefromparts / _xform_ts_extract;
- the string functions the reference defines (INSTR, TRIM, CONCAT
  NULL-propagation, LEN byte semantics).

Every generated MultiSQL expression runs through the engine (dialect →
Spark) and its hand-built DuckDB twin runs raw; row sets must agree
exactly under the driver's canonicalization.  ≥200 generated cases
across the five clusters, derandomized for reproducibility.

Cross-engine gotchas the strategies encode deliberately:
- DuckDB CAST(float AS INT) ROUNDS, the reference/Spark truncate → the
  DuckDB twin wraps trunc();
- DuckDB round() on DECIMAL returns DECIMAL → inputs are built as
  int + k/8 (exact binary eighths, never .5 ties) and the twin casts
  the result to DOUBLE;
- division/modulus by zero ERRORS in the engine (Spark ANSI mode — the
  faithful mapping of the reference's raw-Rust `/` panic,
  binary.rs:10-18); the generators therefore never produce a zero
  divisor, and the error path is pinned by its own test.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from multisql_spark.session import MultiSQLSession
from multisql_spark.testing import canon_rows

ROWS = [
    (1, 2, "abc", True),
    (-3, 7, "XyZ", False),
    (0, None, "", None),
    (None, 4, None, True),
    (10, -10, "hello world", False),
    (5, 5, "abc", None),
    (-7, 3, " pad ", True),
]

SETTINGS = dict(
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


@pytest.fixture(scope="module")
def engines(spark):
    import duckdb

    glue = MultiSQLSession(spark)
    glue.execute("DROP TABLE IF EXISTS dprop")
    glue.execute(
        "CREATE TABLE dprop (i INTEGER NULL, j INTEGER NULL, s TEXT NULL,"
        " b BOOLEAN NULL)"
    )
    for i, j, s, b in ROWS:
        vals = ", ".join(
            "NULL"
            if v is None
            else (f"'{v}'" if isinstance(v, str) else str(v).upper()
                  if isinstance(v, bool) else str(v))
            for v in (i, j, s, b)
        )
        glue.execute(f"INSERT INTO dprop (i, j, s, b) VALUES ({vals})")
    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE dprop (i BIGINT, j BIGINT, s TEXT, b BOOLEAN)"
    )
    duck.executemany("INSERT INTO dprop VALUES (?, ?, ?, ?)", ROWS)
    return glue, duck


def _run(engines, pairs):
    glue, duck = engines
    ms_items = ", ".join(f"({ms}) AS c{k}" for k, (ms, _) in enumerate(pairs))
    dk_items = ", ".join(f"({dk}) AS c{k}" for k, (_, dk) in enumerate(pairs))
    payload = glue.execute(f"SELECT {ms_items} FROM dprop")
    rel = duck.execute(f"SELECT {dk_items} FROM dprop")
    duck_rows = rel.fetchall()
    cols = [d[0] for d in rel.description]
    got = canon_rows(payload.labels, payload.rows)
    want = canon_rows(cols, duck_rows)
    assert got == want, f"\nMS:  {ms_items}\nDK:  {dk_items}"


# --- building blocks -------------------------------------------------------

# integer-typed atoms: (multisql, duckdb)
int_atom = st.one_of(
    st.integers(0, 9).map(lambda n: (str(n), str(n))),
    st.sampled_from([("i", "i"), ("j", "j")]),
    st.tuples(
        st.sampled_from(["i", "j"]), st.integers(-4, 9)
    ).map(lambda t: (f"({t[0]} + {t[1]})", f"({t[0]} + {t[1]})")),
    st.tuples(
        st.sampled_from(["i", "j"]), st.integers(2, 4)
    ).map(lambda t: (f"({t[0]} * {t[1]})", f"({t[0]} * {t[1]})")),
)

# float-typed atoms: int + exact binary eighth, never a .5 rounding tie
# and never exactly zero
float_atom = st.tuples(
    st.sampled_from(["i", "j"]), st.sampled_from([1, 3, 5, 7])
).map(
    lambda t: (
        f"({t[0]} + 0.{t[1] * 125})",
        f"(CAST({t[0]} AS DOUBLE) + 0.{t[1] * 125})",
    )
)

str_atom = st.sampled_from(
    [("s", "s"), ("'abc'", "'abc'"), ("'  x  '", "'  x  '"), ("''", "''")]
)


# --- cluster 1: math call transforms ---------------------------------------

math_item = st.one_of(
    # ROUND over exact eighths; DuckDB DECIMAL result cast back to DOUBLE
    st.tuples(float_atom, st.integers(0, 1)).map(
        lambda t: (
            f"ROUND({t[0][0]}, {t[1]})",
            f"CAST(round({t[0][1]}, {t[1]}) AS DOUBLE)",
        )
    ),
    st.tuples(float_atom).map(
        lambda t: (
            f"CAST(FLOOR({t[0][0]}) AS INT)",
            f"CAST(floor({t[0][1]}) AS BIGINT)",
        )
    ),
    st.tuples(float_atom).map(
        lambda t: (
            f"CAST(CEIL({t[0][0]}) AS INT)",
            f"CAST(ceil({t[0][1]}) AS BIGINT)",
        )
    ),
    int_atom.map(lambda a: (f"ABS({a[0]})", f"abs({a[1]})")),
    # sqrt over |int|: IEEE sqrt is correctly rounded → bit-identical
    int_atom.map(
        lambda a: (f"SQRT(ABS({a[0]}))", f"sqrt(abs({a[1]}))")
    ),
    # POW with int literals static-dispatches to I64 (dialect._xform_pow)
    st.tuples(st.integers(-3, 3), st.integers(0, 5)).map(
        lambda t: (
            f"POW({t[0]}, {t[1]})",
            f"CAST(round(power(({t[0]}), ({t[1]}))) AS BIGINT)",
        )
    ),
    # % keeps dividend sign on both engines (divisor never zero)
    st.tuples(int_atom, st.integers(2, 7)).map(
        lambda t: (
            f"({t[0][0]} % {t[1]})",
            f"({t[0][1]} % {t[1]})",
        )
    ),
)


@settings(max_examples=60, **SETTINGS)
@given(items=st.lists(math_item, min_size=1, max_size=4))
def test_math_transform_parity(engines, items):
    _run(engines, items)


# --- cluster 2: the division rewrite ---------------------------------------

# Static-int operands: bare int literals AND bare int columns — the
# engine's schema snapshot types dprop's i/j columns, so the division
# rewrite dispatches them statically to `div` (I64 result), exactly the
# reference's int ÷ int (binary.rs:66-92, DIVERGENCES #3 closed).
static_int = st.one_of(
    st.integers(0, 9).map(lambda n: (str(n), str(n))),
    st.sampled_from([("i", "i"), ("j", "j")]),
)
# divisors that can never evaluate to zero (j has no zero in ROWS; NULL
# propagates to NULL on both engines)
static_nonzero = st.one_of(
    st.integers(1, 9).map(lambda n: (str(n), str(n))),
    st.just(("j", "j")),
)
# parenthesized int expressions are NOT schema-resolvable → the runtime
# typeof CASE picks int division per row, necessarily DOUBLE-typed
runtime_int = st.one_of(
    st.tuples(
        st.sampled_from(["i", "j"]), st.integers(-4, 9)
    ).map(lambda t: (f"({t[0]} + {t[1]})", f"({t[0]} + {t[1]})")),
    st.tuples(
        st.sampled_from(["i", "j"]), st.integers(2, 4)
    ).map(lambda t: (f"({t[0]} * {t[1]})", f"({t[0]} * {t[1]})")),
)
runtime_nonzero = st.just(("(j * 2)", "(j * 2)"))

div_item = st.one_of(
    # both operands statically int (literal or schema-typed column) →
    # `div` dispatch, result declared I64 like the reference
    st.tuples(static_int, static_nonzero).map(
        lambda t: (
            f"{t[0][0]} / {t[1][0]}",
            f"({t[0][1]} // {t[1][1]})",
        )
    ),
    # non-resolvable int expressions → runtime CASE → DOUBLE-typed value
    st.tuples(runtime_int, runtime_nonzero).map(
        lambda t: (
            f"{t[0][0]} / {t[1][0]}",
            f"CAST((CAST({t[0][1]} AS BIGINT) // CAST({t[1][1]} AS BIGINT))"
            " AS DOUBLE)",
        )
    ),
    st.tuples(static_int, runtime_nonzero).map(
        lambda t: (
            f"{t[0][0]} / {t[1][0]}",
            f"CAST((CAST({t[0][1]} AS BIGINT) // CAST({t[1][1]} AS BIGINT))"
            " AS DOUBLE)",
        )
    ),
    # any float operand → IEEE double division on both engines
    st.tuples(float_atom, float_atom).map(
        lambda t: (
            f"{t[0][0]} / {t[1][0]}",
            f"(CAST({t[0][1]} AS DOUBLE) / CAST({t[1][1]} AS DOUBLE))",
        )
    ),
    st.tuples(int_atom, float_atom).map(
        lambda t: (
            f"{t[0][0]} / {t[1][0]}",
            f"(CAST({t[0][1]} AS DOUBLE) / CAST({t[1][1]} AS DOUBLE))",
        )
    ),
    # division nested inside arithmetic — exercises operand extraction
    # (_take_operand_back/_take_operand_forward) around the `/` token
    st.tuples(runtime_int, runtime_nonzero, st.integers(1, 5)).map(
        lambda t: (
            f"({t[0][0]} / {t[1][0]}) + {t[2]}",
            f"(CAST((CAST({t[0][1]} AS BIGINT) // CAST({t[1][1]} AS BIGINT))"
            f" AS DOUBLE)) + {t[2]}",
        )
    ),
)


def test_division_by_zero_errors(engines):
    """Divide-by-zero is an ERROR, the faithful mapping of the
    reference's raw i64 `/` panic (binary.rs natural_binary_op) — not a
    silent NULL."""
    glue, _ = engines
    for sql in ("SELECT 1 / 0 FROM dprop", "SELECT i / 0 FROM dprop",
                "SELECT i % 0 FROM dprop"):
        with pytest.raises(Exception):
            glue.execute(sql)


@settings(max_examples=60, **SETTINGS)
@given(items=st.lists(div_item, min_size=1, max_size=4))
def test_division_rewrite_parity(engines, items):
    _run(engines, items)


# --- cluster 3: CAST type-map ----------------------------------------------

cast_item = st.one_of(
    int_atom.map(
        lambda a: (f"CAST({a[0]} AS TEXT)", f"CAST({a[1]} AS VARCHAR)")
    ),
    # reference/Spark float→int TRUNCATES; DuckDB CAST rounds → trunc()
    float_atom.map(
        lambda a: (
            f"CAST({a[0]} AS INT)",
            f"CAST(trunc({a[1]}) AS BIGINT)",
        )
    ),
    int_atom.map(
        lambda a: (f"CAST({a[0]} AS FLOAT)", f"CAST({a[1]} AS DOUBLE)")
    ),
    st.just(("CAST(b AS INT)", "CAST(b AS BIGINT)")),
    st.sampled_from(["123", "-45", "0"]).map(
        lambda n: (f"CAST('{n}' AS INT)", f"CAST('{n}' AS BIGINT)")
    ),
    st.sampled_from(["1.5", "-2.25"]).map(
        lambda n: (f"CAST('{n}' AS FLOAT)", f"CAST('{n}' AS DOUBLE)")
    ),
    # round-trip through TEXT
    int_atom.map(
        lambda a: (
            f"CAST(CAST({a[0]} AS TEXT) AS INT)",
            f"CAST(CAST({a[1]} AS VARCHAR) AS BIGINT)",
        )
    ),
)


@settings(max_examples=50, **SETTINGS)
@given(items=st.lists(cast_item, min_size=1, max_size=4))
def test_cast_map_parity(engines, items):
    _run(engines, items)


# --- cluster 4: timestamp transforms ---------------------------------------

# epoch expression derived from the int columns (NULL-propagating)
epoch = st.tuples(st.integers(0, 3), st.integers(0, 20)).map(
    lambda t: (
        f"(1000000000 + i * {t[0] * 86400 + 3600} + j * {t[1] * 60})",
        f"(1000000000 + i * {t[0] * 86400 + 3600} + j * {t[1] * 60})",
    )
)

_EXTRACTS = [
    ("YEAR", "year"),
    ("MONTH", "month"),
    ("DAY", "day"),
    ("HOUR", "hour"),
    ("MINUTE", "minute"),
    ("SECOND", "second"),
]

_UNITS = [("'DAY'", "to_days"), ("'HOUR'", "to_hours"),
          ("'MINUTE'", "to_minutes"), ("'SECOND'", "to_seconds")]

ts_item = st.one_of(
    # YEAR..SECOND over epoch seconds (UTC-pinned on both engines)
    st.tuples(st.sampled_from(_EXTRACTS), epoch).map(
        lambda t: (
            f"CAST({t[0][0]}({t[1][0]}) AS INT)",
            f"CAST({t[0][1]}(to_timestamp({t[1][1]})) AS BIGINT)",
        )
    ),
    # DATEADD unit/argument plumbing, compared as epoch output
    st.tuples(st.sampled_from(_UNITS), st.integers(-50, 50), epoch).map(
        lambda t: (
            f"CAST(DATEADD({t[0][0]}, {t[1]}, {t[2][0]}) AS INT)",
            f"CAST(date_part('epoch', to_timestamp({t[2][1]})"
            f" + {t[0][1]}(CAST({t[1]} AS INT))) AS BIGINT)",
        )
    ),
    # DATEFROMPARTS with 3..6 args (the default-filling path)
    st.tuples(
        st.integers(1971, 2030), st.integers(1, 12), st.integers(1, 28),
        st.integers(0, 23), st.integers(0, 59),
    ).map(
        lambda t: (
            f"CAST(DATEFROMPARTS({t[0]}, {t[1]}, {t[2]}, {t[3]}, {t[4]})"
            " AS INT)",
            f"CAST(date_part('epoch', make_timestamp({t[0]}, {t[1]},"
            f" {t[2]}, {t[3]}, {t[4]}, 0.0)) AS BIGINT)",
        )
    ),
    st.tuples(
        st.integers(1971, 2030), st.integers(1, 12), st.integers(1, 28)
    ).map(
        lambda t: (
            f"CAST(DATEFROMPARTS({t[0]}, {t[1]}, {t[2]}) AS INT)",
            f"CAST(date_part('epoch', make_timestamp({t[0]}, {t[1]},"
            f" {t[2]}, 0, 0, 0.0)) AS BIGINT)",
        )
    ),
)


@settings(max_examples=45, **SETTINGS)
@given(items=st.lists(ts_item, min_size=1, max_size=3))
def test_timestamp_transform_parity(engines, items):
    _run(engines, items)


# --- cluster 5: string functions -------------------------------------------

str_item = st.one_of(
    # INSTR: 1-based, 0 when absent, NULL-propagating on both engines
    st.tuples(str_atom, st.sampled_from(["'a'", "'l'", "'zz'", "' '"])).map(
        lambda t: (
            f"CAST(INSTR({t[0][0]}, {t[1]}) AS INT)",
            f"CAST(instr({t[0][1]}, {t[1]}) AS BIGINT)",
        )
    ),
    str_atom.map(lambda a: (f"TRIM({a[0]})", f"trim({a[1]})")),
    # CONCAT must propagate NULL like the reference — DuckDB's concat()
    # skips NULLs, so the twin is the || chain
    st.tuples(str_atom, str_atom).map(
        lambda t: (
            f"CONCAT({t[0][0]}, {t[1][0]})",
            f"({t[0][1]} || {t[1][1]})",
        )
    ),
    st.tuples(str_atom, str_atom, str_atom).map(
        lambda t: (
            f"CONCAT({t[0][0]}, {t[1][0]}, {t[2][0]})",
            f"({t[0][1]} || {t[1][1]} || {t[2][1]})",
        )
    ),
    # LEN is BYTE length (reference semantics) — multibyte probe
    st.sampled_from([("s", "s"), ("'héllo'", "'héllo'"), ("''", "''")]).map(
        lambda a: (
            f"CAST(LEN({a[0]}) AS INT)",
            f"CAST(strlen({a[1]}) AS BIGINT)",
        )
    ),
    # NULLIF static mixed-kind dispatch: incomparable kinds → first arg
    st.integers(0, 9).map(
        lambda n: (f"NULLIF({n}, 'x')", f"{n}")
    ),
)


@settings(max_examples=45, **SETTINGS)
@given(items=st.lists(str_item, min_size=1, max_size=4))
def test_string_transform_parity(engines, items):
    _run(engines, items)


# --- cluster 6: schema-aware labeling (pure rewrite, no Spark) -------------

label_schema = {
    "ta": {"id": "bigint", "num": "bigint", "shared": "bigint"},
    "tb": {"id": "bigint", "tag": "string", "shared": "bigint"},
}


def _select_labels(sql: str) -> list[str | None]:
    """Extract the AS label (or None) of each top-level select item from
    a rewritten statement."""
    from multisql_spark.dialect import _split_args, tokenize

    toks = tokenize(sql)
    assert toks[0][1].upper() == "SELECT"
    end = len(toks)
    depth = 0
    for k in range(1, len(toks)):
        if toks[k][1] == "(":
            depth += 1
        elif toks[k][1] == ")":
            depth -= 1
        elif depth == 0 and toks[k][0] == "ident" and \
                toks[k][1].upper() == "FROM":
            end = k
            break
    out = []
    for item in _split_args(toks[1:end]):
        label = None
        for k, (kind, text) in enumerate(item):
            if kind == "ident" and text.upper() == "AS" and k + 1 < len(item):
                label = item[k + 1][1].strip("`")
        out.append(label)
    return out


@settings(max_examples=40, **SETTINGS)
@given(
    items=st.lists(
        st.sampled_from(
            ["num", "tag", "shared", "ta.num", "tb.tag", "num + 1",
             "UPPER(tag)", "num AS n"]
        ),
        min_size=1,
        max_size=4,
    ),
    alias_a=st.sampled_from(["ta", "x"]),
    alias_b=st.sampled_from(["tb", "y"]),
)
def test_multi_table_label_rule(items, alias_a, alias_b):
    """Pure-rewrite property: in a two-table query the reference label
    rule (planned.rs:252-274) holds for every select-item shape —
    bare and dotted columns label with the REAL table name (the
    reference labels column.table.name with the alias stripped,
    refine_item.rs:42), ambiguous bare columns stay plain, expressions
    get unnamed_{i}, explicit aliases win."""
    from multisql_spark.dialect import rewrite

    sel = ", ".join(
        it.replace("ta.", f"{alias_a}.").replace("tb.", f"{alias_b}.")
        for it in items
    )
    sql = (
        f"SELECT {sel} FROM ta {('' if alias_a=='ta' else alias_a)} "
        f"JOIN tb {('' if alias_b=='tb' else alias_b)} ON "
        f"{alias_a}.id = {alias_b}.id"
    )
    got = _select_labels(
        rewrite(sql, int_division=True, schema=label_schema)
    )
    want = []
    for n, it in enumerate(items):
        if it == "num":
            want.append("ta.num")
        elif it == "tag":
            want.append("tb.tag")
        elif it == "shared":
            want.append(None)  # ambiguous: both tables own it → plain
        elif it == "ta.num":
            want.append("ta.num")  # real name even when written x.num
        elif it == "tb.tag":
            want.append("tb.tag")
        elif it == "num AS n":
            want.append("n")  # explicit alias left untouched
        else:
            want.append(f"unnamed_{n}")
    assert got == want, f"\nsql: {sql}\ngot: {got}\nwant: {want}"


def test_label_rule_bails_on_subqueries():
    """CTE / subquery statements keep the conservative old behavior —
    the snapshot cannot type names that shadow computed columns."""
    from multisql_spark.dialect import rewrite

    for sql in (
        "WITH w AS (SELECT num FROM ta) SELECT num FROM w"
        " JOIN tb ON w.num = tb.id",
        "SELECT num FROM (SELECT * FROM ta) s JOIN tb ON s.id = tb.id",
    ):
        out = rewrite(sql, int_division=True, schema=label_schema)
        assert "AS `" not in out, out


# --- cluster 7: statement splitting (pure lexing, no Spark) ----------------

_LITERAL_TEXT = st.lists(
    st.sampled_from(
        [";", ",", "'", '"', "--", "/*", "*/", "(", ")", "WHERE", " ", "\n",
         "a"]
    ),
    max_size=12,
).map("".join)


def _quote(text: str, q: str) -> str:
    return q + text.replace(q, q + q) + q


@settings(max_examples=200, **SETTINGS)
@given(
    literals=st.lists(
        st.tuples(_LITERAL_TEXT, st.sampled_from(["'", '"'])),
        min_size=1,
        max_size=5,
    ),
)
def test_split_keeps_literals_whole(literals):
    """A script of n ``SELECT <literal> AS c`` statements splits into n
    statements, each carrying its literal unchanged, whatever separators,
    quotes, comment openers, parens or keywords the literal holds."""
    from multisql_spark.dialect import _split_source

    stmts = [f"SELECT {_quote(t, q)} AS c" for t, q in literals]
    assert _split_source(";\n".join(stmts), ";") == stmts


# --- cluster 8: statement heads (pure parsing, no Spark) -------------------

_KEYWORDS = {"AS", "SET", "WHERE", "FROM", "TABLE", "INTO", "VALUES", "ON",
             "USING", "WHEN", "IF", "EXISTS", "NOT", "SELECT", "INDEX"}

_PLAIN_NAME = st.from_regex(r"[a-z_][a-z0-9_]{0,7}", fullmatch=True).filter(
    lambda n: n.upper() not in _KEYWORDS
)
# a backticked name holds spaces, keywords, separators and backticks
_QUOTED_NAME = st.lists(
    st.sampled_from(["q", " ", "`", "SELECT", "WHERE", "AS", ".", ",", ";",
                     "(", ")", "'", "t 1"]),
    min_size=1,
    max_size=6,
).map("".join)
_NAME = st.one_of(
    _PLAIN_NAME.map(lambda n: (n, n)),
    _QUOTED_NAME.map(lambda n: (_quote(n, "`"), n)),
)

_CLAUSES = {
    "where": ["a = 1", "s = 'p WHERE q'", "b IN (SELECT c FROM t WHERE d)",
              "`w h` IS NULL -- x"],
    "sets": ["a = 1", "`b c` = 'x, y', a = a + 1",
             "a = CASE WHEN a = 1 THEN 2 ELSE 3 END"],
    "query": ["SELECT 1 AS a", "SELECT a FROM t WHERE b = 'AS'",
              "(SELECT 1) UNION (SELECT 2)"],
    "columns": ["id INTEGER, `a b` TEXT DEFAULT 'x, y'",
                "k INTEGER PRIMARY KEY"],
    "rows": ["(1, 'a')", "(1, 'a;b'), (2, \"c)d\")"],
    "on": ["t.k = s.k", "t.k = s.k AND s.v <> 'WHEN'"],
}

# (statement with {name}, {db}-free forms, and {clause} fields, its kind)
_FORMS = [
    ("CREATE TABLE {name} ({columns})", "CREATE TABLE"),
    ("CREATE TABLE IF NOT EXISTS {name} AS {query}", "CREATE TABLE"),
    ("INSERT INTO {name} (a, `b c`) VALUES {rows}", "INSERT"),
    ("INSERT INTO {name} {query}", "INSERT"),
    ("UPDATE {name} SET {sets} WHERE {where}", "UPDATE"),
    ("UPDATE {name} SET {sets}", "UPDATE"),
    ("DELETE FROM {name} WHERE {where}", "DELETE"),
    ("DELETE FROM {name}", "DELETE"),
    ("MERGE INTO {name} USING ({query}) AS s ON {on}"
     " WHEN MATCHED THEN UPDATE SET {sets}", "MERGE"),
    ("MERGE INTO {name} USING ({query}) AS s ON {on}"
     " WHEN MATCHED THEN UPDATE SET {sets}"
     " WHEN NOT MATCHED THEN INSERT (a) VALUES (s.a)", "MERGE"),
    ("TRUNCATE TABLE {name}", "TRUNCATE"),
    ("TRUNCATE {name}", "TRUNCATE"),
    ("DROP TABLE IF EXISTS {name}", "DROP TABLE"),
    ("DROP TABLE {name}", "DROP TABLE"),
    ("CREATE UNIQUE INDEX ix ON {name} (k)", "CREATE INDEX"),
    ("ALTER TABLE {name} ADD COLUMN {columns}", "ALTER TABLE ADD COLUMN"),
    ("EXPLAIN {name}", "EXPLAIN"),
]


@settings(max_examples=300, **SETTINGS)
@given(
    form=st.sampled_from(_FORMS),
    table=_NAME,
    db=st.one_of(st.none(), _NAME),
    picks=st.fixed_dictionaries(
        {k: st.sampled_from(v) for k, v in _CLAUSES.items()}
    ),
)
def test_parse_reads_names_and_clauses(form, table, db, picks):
    """A statement of each form parses to its kind, its target unquoted
    and split into ``(db, table)``, and its clauses as written, whatever
    the name holds when backtick-quoted (spaces, keywords, dots,
    separators, doubled backticks) and whether it is ``db.``-qualified."""
    from multisql_spark.dialect import parse

    pattern, kind = form
    name = table[0] if db is None else f"{db[0]}.{table[0]}"
    stmt = pattern.format(name=name, **picks)
    parsed = parse(stmt)
    assert parsed.kind == kind, stmt
    assert (parsed.db, parsed.table) == (db and db[1], table[1]), stmt
    for clause, text in picks.items():
        if "{" + clause + "}" in pattern:
            # a comment is no part of a clause
            assert parsed.parts[clause] == text.split(" --")[0], stmt


@settings(max_examples=100, **SETTINGS)
@given(
    table=_NAME,
    sets=st.sampled_from(_CLAUSES["sets"]),
    on=st.sampled_from(_CLAUSES["on"]),
)
def test_parse_rejects_a_clause_cut_short(table, sets, on):
    """The word that starts a clause, with nothing after it or followed
    by a clause no form reads, is no part of the clause before it: the
    statement raises, and is not read with that word in the SET list or
    the ON condition."""
    from multisql_spark.dialect import parse

    name = table[0]
    for stmt in (
        f"UPDATE {name} SET {sets} WHERE",
        f"DELETE FROM {name} WHERE",
        f"MERGE INTO {name} USING s ON {on} WHEN",
        f"MERGE INTO {name} USING s ON {on} WHEN NOT MATCHED THEN DELETE",
        f"MERGE INTO {name} USING s ON {on} WHEN MATCHED THEN UPDATE SET"
        f" {sets} WHEN NOT MATCHED THEN DELETE",
    ):
        with pytest.raises(ValueError, match="cannot parse"):
            parse(stmt)
