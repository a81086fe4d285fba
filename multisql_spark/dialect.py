"""MultiSQL SQL dialect → Spark SQL rewriter.

The reference parses with sqlparser-rs GenericDialect
(``/root/reference/src/parse_sql.rs:6-17``) and implements its function
semantics in ``src/data/value/methods/{function,utility,timestamp}.rs``.
Spark SQL covers almost everything natively; this module maps the
differences at the token level so the rest of the engine can just call
``spark.sql``:

- ``LEN(s)``            → ``octet_length(s)``   (reference LEN is *byte*
  length, utility.rs:77-80)
- ``IIF(c,t,f)``        → ``if(c,t,f)``         (function.rs:46-51)
- ``NOW()``             → ``unix_timestamp()``  (reference NOW returns unix
  seconds as I64, timestamp.rs:102-114)
- ``UUID()``            → ``uuid()``            (the reference dispatch maps
  UUID to RAND by mistake, from/method.rs:45; we implement the intent)
- ``YEAR..SECOND(x)``   → ``year(CAST(x AS TIMESTAMP))`` … — reference
  stores timestamps as unix-second i64; ``CAST(bigint AS TIMESTAMP)`` in
  Spark interprets seconds, so both representations work.
- ``DATEADD('YEAR',n,ts)``   → ``timestampadd(YEAR, n, CAST(ts AS TIMESTAMP))``
  (timestamp.rs:146-278)
- ``DATEFROMPARTS(y,…)``     → ``make_timestamp(y,mo,d,h,mi,s)`` with the
  reference's 1/1/0:0:0 defaults (timestamp.rs:279-313)
- ``CONVERT('TYPE',v[,rule])`` → cast / ``to_timestamp(v, fmt)`` /
  ``date_format`` with the rule-code table from cast.rs:146-303.
- session variables — bare identifiers matching a SET variable are replaced
  with literals before submission (reference ``simplify_by_tempdb``,
  src/data/recipe/new.rs:24-47)
- ``db.table`` → ``db__table`` for attached databases (reference
  multi-database names, src/data/types.rs:29-33)
"""

from __future__ import annotations

import functools
import itertools
import re
from dataclasses import dataclass, field

# --- tokenizer -------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<space>\s+)
    | (?P<comment>--[^\n]*|(?s:/\*.*?\*/))
    | (?P<string>'(?:[^']|'')*')
    | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<number>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?|\.\d+)
    | (?P<ident>[A-Za-z_\$@][A-Za-z0-9_\$]*)
    | (?P<op><>|!=|>=|<=|\|\||::|[-+*/%(),.;=<>\[\]])
    """,
    re.VERBOSE,
)


def tokenize(sql: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise ValueError(f"cannot tokenize SQL at: {sql[pos:pos + 30]!r}")
        kind = m.lastgroup or "op"
        if kind == "qident" and m.group().startswith('"'):
            # reference parity: the corpus writes string literals with
            # double quotes (e.g. ``VALUES (NULL, 2, "Hello")`` in
            # tests/functionality/statement/data_query/nullable.rs) and
            # expects Str values — treat "..." as a string literal
            body = m.group()[1:-1].replace('""', '"')
            tokens.append(("string", "'" + body.replace("'", "''") + "'"))
        elif kind not in ("space", "comment"):
            tokens.append((kind, m.group()))
        pos = m.end()
    return tokens


def untokenize(tokens: list[tuple[str, str]]) -> str:
    out: list[str] = []
    for i, (kind, text) in enumerate(tokens):
        if i and _needs_space(tokens[i - 1], (kind, text)):
            out.append(" ")
        out.append(text)
    return "".join(out)


def _needs_space(prev: tuple[str, str], cur: tuple[str, str]) -> bool:
    wordy = {"ident", "number", "string", "qident"}
    if prev[0] in wordy and cur[0] in wordy:
        return True
    # keep `a . b` tight but ops readable
    if prev[1] in "(.[" or cur[1] in ".,;)]" or cur[1] == "(":
        return False
    return True


# --- CONVERT rule codes (reference cast.rs:216-300, strftime → Java) -------

_RULE_DATETIME_FMT = {
    0: None,  # from unix seconds
    20: "yyyy-MM-dd HH:mm:ss",
    21: "yyyy-MM-dd HH:mm",
    22: "yyyy-MM-dd",
    30: "yyyy-MM-dd hh:mm:ss a",
    31: "hh:mm a",
    32: "dd-MMM-yyyy",
    33: "d-MMM-yy",
    40: "yyyyMMdd",
    60: "dd/MM/yyyy HH:mm",
    61: "dd/MM/yyyy",
    62: "dd/MM/yyyy HH:mm:ss",
    63: "ddMMyyyy HH:mm:ss",
    64: "ddMMyyyy",
    100: "HH:mm:ss",
    101: "HH:mm",
}

# named CONVERT rule → parse-format fallback chains (reference
# src/data/value/cast.rs:243-246: TRY_RULES_DATETIME/DATE/TIME; rules
# 010/011 are listed there but unimplemented in the match, so skipped)
_NAMED_RULE_FORMATS = {
    "DATETIME": [
        "yyyy-MM-dd HH:mm:ss",      # 020  %F %T
        "yyyy-MM-dd HH:mm",         # 021  %F %R
        "yyyy-MM-dd hh:mm:ss a",    # 030  %F %r
        "hh:mm a",                  # 031  %I:%M %p
        "dd/MM/yyyy HH:mm",         # 060
        "dd/MM/yyyy HH:mm:ss",      # 062
        "ddMMyyyy HH:mm:ss",        # 063
    ],
    "DATE": [
        "yyyy-MM-dd",               # 022  %F
        "d-MMM-yy",                 # 033  %e-%b-%y (before 032, cast.rs:245)
        "dd-MMM-yyyy",              # 032  %v
        "dd/MM/yyyy",               # 061
        "ddMMyyyy",                 # 064
        "yyyyMMdd",                 # 040
    ],
    "TIME": [
        "HH:mm:ss",                 # 100  %T
        "HH:mm",                    # 101  %R
    ],
}


def _ts_epoch_expr(val: str, try_: bool) -> str:
    """Rule 000 / 'TIMESTAMP': value is unix seconds (cast.rs:263-266)."""
    cast_fn = "try_cast" if try_ else "cast"
    return f"{cast_fn}({cast_fn}(({val}) AS BIGINT) AS TIMESTAMP)"


def _ts_format_chain(val: str, formats: list[str], try_: bool) -> str:
    """Try each format in order; in strict mode the last arm re-parses
    with the first format so total failure raises like the reference's
    ValueError::ParseError."""
    attempts = [f"try_to_timestamp(({val}), '{f}')" for f in formats]
    if not try_:
        attempts.append(f"to_timestamp(({val}), '{formats[0]}')")
    return f"coalesce({', '.join(attempts)})"


def _ts_any_chain(val: str, try_: bool) -> str:
    """Rule-less string→timestamp: epoch seconds, then every DATETIME /
    DATE / TIME format (cast.rs:249-252 Value::Null fallback chain).
    The format arms parse the operand's text, so a number reaches them as
    a string (``try_to_timestamp`` of a number fails analysis) and
    resolves through the epoch-seconds arm."""
    parts = [f"try_cast(try_cast(({val}) AS BIGINT) AS TIMESTAMP)",
             f"try_cast(({val}) AS TIMESTAMP)"]
    for fams in ("DATETIME", "DATE", "TIME"):
        parts += [
            f"try_to_timestamp(CAST(({val}) AS STRING), '{f}')"
            for f in _NAMED_RULE_FORMATS[fams]
        ]
    if not try_:
        parts.append(f"cast(({val}) AS TIMESTAMP)")
    return f"coalesce({', '.join(parts)})"


_STRFTIME_TO_JAVA = [
    ("%F", "yyyy-MM-dd"),
    ("%T", "HH:mm:ss"),
    ("%R", "HH:mm"),
    ("%Y", "yyyy"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%e", "d"),
    ("%b", "MMM"),
    ("%v", "dd-MMM-yyyy"),
    ("%H", "HH"),
    ("%I", "hh"),
    ("%M", "mm"),
    ("%S", "ss"),
    ("%p", "a"),
    ("%r", "hh:mm:ss a"),
    ("%y", "yy"),
]


def strftime_to_java(fmt: str) -> str:
    for src, dst in _STRFTIME_TO_JAVA:
        fmt = fmt.replace(src, dst)
    return fmt


# --- paren nesting ---------------------------------------------------------


def _top(tokens: list[tuple[str, str]], start: int = 0):
    """Yield ``(i, kind, text)`` for each token from ``start`` on that
    stands at paren depth 0, a group's own parens included.  After a
    stray ``)`` the depth is negative, so nothing is yielded until a
    ``(`` brings it back to 0."""
    depth = 0
    for i in range(start, len(tokens)):
        kind, text = tokens[i]
        depth -= text == ")"
        if depth == 0:
            yield i, kind, text
        depth += text == "("


def _close(tokens: list[tuple[str, str]], i: int) -> int:
    """The index of the ``)`` that closes the ``(`` at ``i``, or
    ``len(tokens)`` if it never closes."""
    # from the `(` on, the next depth-0 token is its `)`
    top = _top(tokens, i)
    next(top)
    return next(top, (len(tokens),))[0]


def _split_args(tokens: list[tuple[str, str]]) -> list[list[tuple[str, str]]]:
    """Split a paren-free-depth token list on top-level commas."""
    cuts = [i for i, _, text in _top(tokens) if text == ","]
    args = [tokens[a + 1:b] for a, b in zip([-1] + cuts, cuts + [len(tokens)])]
    return [a for a in args if a or len(args) == 1]


def _split_source(sql: str, sep: str) -> list[str]:
    """Split ``sql`` at its depth-0 ``sep`` tokens (``;``, ``,``, ``=``)
    into slices of its source text, stripped and with comments removed
    (sqlparser drops them too).  Strings, quoted identifiers and
    comments are lexed by ``_TOKEN_RE``, so a separator inside one is
    text; a character it cannot lex passes through as text of its own
    (``tokenize`` is the one that raises)."""
    texts, words, _ = _lex(sql)
    pieces: list[str] = []
    start = depth = 0
    for i, _, word in words:
        depth -= word == ")"
        if depth == 0 and word == sep:
            pieces.append("".join(texts[start:i]).strip())
            start = i + 1
        depth += word == "("
    pieces.append("".join(texts[start:]).strip())
    return pieces


def _lex(sql: str) -> tuple[list[str], list[tuple[int, str, str]], list]:
    """Every token of ``sql`` as its source text (a comment as one
    space); ``(index, kind, upper-cased text)`` of each one that is not
    blank, a word; and where each word's unit ends: a group's after its
    ``)``, an unclosed one's past the last word, any other word's after
    it.  A character ``_TOKEN_RE`` cannot lex is a word of kind ``op``."""
    texts: list[str] = []
    words: list[tuple[int, str, str]] = []
    ends, opened = [], []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        end = m.end() if m else pos + 1
        kind = m.lastgroup if m else "op"
        if kind not in ("space", "comment"):
            word = sql[pos:end].upper()
            if word == "(":
                opened.append(len(words))
            elif word == ")" and opened:
                ends[opened.pop()] = len(words) + 1
            ends.append(len(words) + 1)
            words.append((len(texts), kind, word))
        texts.append(" " if kind == "comment" else sql[pos:end])
        pos = end
    for i in opened:
        ends[i] = len(words) + 1
    return texts, words, ends


# --- statement heads (reference src/parse_sql.rs:6-17) ---------------------


@dataclass
class Statement:
    """One statement, parsed as sqlparser parses a ``Statement`` for the
    reference's executors: its ``kind``, the words it took where its form
    offers a choice (``flags``: ``IF EXISTS``, ``OVERWRITE``, …), its
    target table unquoted as ``db`` and ``table``, and its ``parts``:
    names and paths unquoted, clauses as source text."""

    kind: str
    flags: frozenset[str] = frozenset()
    db: str | None = None
    table: str | None = None
    parts: dict[str, str] = field(default_factory=dict)

    @property
    def name(self) -> str:
        return f"{self.db}.{self.table}" if self.db else self.table


# One line per statement form, tried in order.  In a pattern a WORD is a
# keyword and ``A|B`` either one; ``[…]`` is optional, ``{… | …}`` takes
# the first branch that matches, ``(…)`` is a parenthesized group, and
# ``.`` and ``=`` stand for themselves.  A statement's flags are the word
# it took of each ``A|B`` and each optional part or branch of keywords
# alone that it took.  A ``<slot>`` is a part: ``<path>`` a string;
# ``<x*>`` a clause, one or more tokens (a group is one) of source text,
# as few as let the rest of the line match, none after the first a word
# that starts the optional part it is in or what follows it (but inside
# CASE … END), and ``<query*>`` one that starts as a query does; any
# other ``<x>`` one name, plain or quoted.  ``<name>``, the target table,
# is ``[<db> .] <table>``, and the table may be dotted after a ``db.``.
_GRAMMAR = [
    ("CREATE TABLE",
     "CREATE TABLE [IF NOT EXISTS] <name> {(<columns*>) | AS <query*>}"),
    # the reference accepts a parenthesized view body
    # (tests/ability/alter/view/create_view.rs)
    ("CREATE VIEW",
     "CREATE [OR REPLACE] VIEW <view> AS {(<query*>) | <query*>}"),
    ("CREATE MATERIALIZED VIEW",
     "CREATE [OR REPLACE] MATERIALIZED VIEW <view> AS <query*>"),
    ("CREATE INDEX", "CREATE [UNIQUE] INDEX <index> ON <name> (<column>)"),
    ("CREATE DATABASE",
     "CREATE DATABASE [IF NOT EXISTS] <database> LOCATION <path>"),
    ("REFRESH MATERIALIZED VIEW", "REFRESH MATERIALIZED VIEW <view>"),
    ("INSERT", "INSERT INTO|OVERWRITE [TABLE] <name> [(<columns*>)]"
               " {VALUES <rows*> | <query*>}"),
    ("UPDATE", "UPDATE <name> SET <sets*> [WHERE <where*>]"),
    ("DELETE", "DELETE FROM <name> [WHERE <where*>]"),
    ("MERGE", "MERGE INTO <name> [[AS] <alias>]"
              " USING {(<query*>) | [<source_db> .] <source_table>}"
              " [[AS] <source_alias>] ON <on*>"
              " [WHEN MATCHED THEN {UPDATE SET <sets*> | DELETE}]"
              " [WHEN NOT MATCHED THEN INSERT [(<columns*>)]"
              " VALUES (<values*>)]"
              " [WHEN MATCHED THEN {UPDATE SET <sets*> | DELETE}]"),
    ("TRUNCATE", "TRUNCATE [TABLE] <name>"),
    ("DROP TABLE", "DROP TABLE [IF EXISTS] <name>"),
    ("DROP VIEW", "DROP VIEW [IF EXISTS] <view>"),
    ("DROP MATERIALIZED VIEW", "DROP MATERIALIZED VIEW [IF EXISTS] <view>"),
    ("DROP INDEX", "DROP INDEX [IF EXISTS] [<on> .] <index>"),
    ("DROP DATABASE", "DROP DATABASE|SCHEMA [IF EXISTS] <database>"),
    ("ALTER TABLE RENAME", "ALTER TABLE <name> RENAME TO <new>"),
    ("ALTER TABLE RENAME COLUMN",
     "ALTER TABLE <name> RENAME COLUMN <column> TO <new>"),
    ("ALTER TABLE ADD COLUMN", "ALTER TABLE <name> ADD [COLUMN] <columns*>"),
    ("ALTER TABLE DROP COLUMN",
     "ALTER TABLE <name> DROP [COLUMN] [IF EXISTS] <column>"),
    ("ALTER TABLE", "ALTER TABLE <name> <action*>"),
    ("SET", "SET <variable> = <value*>"),
    ("EXPLAIN", "EXPLAIN [ANALYZE] <query*>"),
    ("EXPLAIN", "EXPLAIN [<name>]"),
    # SHOW and DESCRIBE are sugar over EXPLAIN's metadata
    ("EXPLAIN", "SHOW DATABASES"),
    ("SHOW TABLES", "SHOW TABLES [FROM|IN <name>]"),
    ("EXPLAIN", "SHOW COLUMNS FROM|IN <name>"),
    ("EXPLAIN", "DESCRIBE|DESC <name>"),
    ("EXECUTE FILE", "EXECUTE FILE (<path>)"),
    ("EXPORT DATABASE", "EXPORT DATABASE TO <path>"),
    ("IMPORT DATABASE", "IMPORT DATABASE FROM <path>"),
]

_PATTERN_TOKEN_RE = re.compile(r"<[^>]+>|\w+(?:\|\w+)*|\S")
_QUERY_HEADS = ("SELECT", "WITH", "VALUES", "(")


@functools.lru_cache(maxsize=None)
def _compile(pattern: str) -> list[tuple]:
    """A pattern as a list of elements: ``("kw", words)`` (``.`` and
    ``=`` too), ``("slot", name)``, ``("clause", (name, stops))``,
    ``("group", elements)`` and ``("alt", [(flag, elements), …])``, an
    optional part being an ``alt`` with an empty last branch.  A
    clause's ``stops`` are the words that start the optional parts it
    is in: ``WHEN`` for a MERGE ``WHEN`` clause's SET list."""
    toks = _PATTERN_TOKEN_RE.findall(
        pattern.replace("<name>", "[<db> .] <table>"))[::-1]

    def seq(stops: frozenset = frozenset()) -> list[tuple]:
        out: list[tuple] = []
        while toks and toks[-1] not in (")", "]", "}", "|"):
            tok = toks.pop()
            if tok in ("(", "[", "{"):
                inner = stops | (frozenset(toks[-1].split("|"))
                                 if tok == "[" and toks[-1][0].isalpha()
                                 else frozenset())
                branches = [seq(inner)]
                while toks.pop() == "|":  # the last one popped closes
                    branches.append(seq(inner))
                if tok == "(":
                    out.append(("group", branches[0]))
                    continue
                branches += [[]] if tok == "[" else []
                out.append(("alt", [(_flag(b), b) for b in branches]))
            elif tok.endswith("*>"):
                out.append(("clause", (tok[1:-2], stops)))
            elif tok.startswith("<"):
                out.append(("slot", tok[1:-1]))
            else:
                out.append(("kw", frozenset(tok.split("|"))))
        return out

    return seq()


def _flag(branch: list[tuple]) -> str:
    """The flag a branch sets: its keywords, if it is keywords alone."""
    if all(k == "kw" and len(a) == 1 for k, a in branch):
        return " ".join(next(iter(a)) for _, a in branch)
    return ""


def _firsts(elements: list[tuple]) -> set[str]:
    """The keywords that ``elements`` can start with."""
    out: set[str] = set()
    for op, arg in elements:
        if op == "kw":
            return out | arg
        if op != "alt":
            return out
        for _, branch in arg:
            out |= _firsts(branch)
        if all(branch for _, branch in arg):
            return out
    return out


def _backtick(name: str) -> str:
    """``name`` as a backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def unquote(name: str) -> str:
    """A name or string as written but for its quotes, if it is quoted
    with backticks, double or single quotes (a doubled quote inside is
    one)."""
    if len(name) > 1 and name[0] in "`\"'" and name[-1] == name[0]:
        return name[1:-1].replace(name[0] * 2, name[0])
    return name


def _match(
    elements: list[tuple], p: int, end: int, lexed: tuple, got: tuple
) -> tuple | None:
    """``got``, the ``(key, value)`` pairs matched so far, extended by
    what ``elements`` match of the words ``p`` to ``end`` (a group is
    one); None if they do not match all of them.  A clause's value is
    the slice of its words; a flag's key is None."""
    if not elements:
        return got if p == end else None
    (op, arg), rest = elements[0], elements[1:]
    texts, words, ends = lexed
    if op == "alt":
        for flag, branch in arg:
            found = _match(branch + rest, p, end, lexed,
                           got + ((None, flag),) if flag else got)
            if found is not None:
                return found
        return None
    if p >= end:
        return None
    i, kind, word = words[p]
    if op == "kw":
        if word not in arg:  # a quoted word keeps its quotes
            return None
        if len(arg) > 1:
            got += ((None, word),)
        return _match(rest, p + 1, end, lexed, got)
    if op == "group":
        close = ends[p] - 1
        if word != "(" or close >= end:
            return None
        inner = _match(arg, p + 1, close, lexed, got)
        return None if inner is None else _match(
            rest, close + 1, end, lexed, inner)
    if op == "clause":
        name, stops = arg
        if name == "query" and word not in _QUERY_HEADS:
            return None
        # after its first word, a clause takes no word that starts its
        # part or what follows it, but for one inside CASE … END
        # (`SET v = CASE WHEN …`; `DEFAULT NULL` is a default)
        stops, case, q = stops | _firsts(rest), 0, p
        while q < end:
            case += (words[q][2] == "CASE") - (words[q][2] == "END")
            if q > p and case <= 0 and words[q][2] in stops:
                return None
            q = min(ends[q], end)  # an unclosed group runs to the end
            found = _match(rest, q, end, lexed,
                           got + ((name, slice(p, q)),))
            if found is not None:
                return found
        return None
    if kind not in (("string",) if arg == "path" else ("ident", "qident")):
        return None
    name, q = unquote(texts[i]), p + 1
    # a table of an attached database may be dotted (jdbc `db.APP.t`)
    while arg == "table" and q + 1 < end and words[q][2] == "." \
            and words[q + 1][1] in ("ident", "qident"):
        name += "." + unquote(texts[words[q + 1][0]])
        q += 2
    return _match(rest, q, end, lexed, got + ((arg, name),))


def _read(elements: list[tuple], lexed: tuple) -> dict | None:
    """The parts of a statement that ``elements`` match, clauses as
    their source text, and its ``flags``; None if they do not match."""
    got = _match(elements, 0, len(lexed[1]), lexed, ())
    if got is None:
        return None
    texts, words, _ = lexed
    parts: dict = {"flags": set()}
    for key, value in got:
        if key is None:
            parts["flags"].add(value)
        elif isinstance(value, slice):
            first, last = words[value.start][0], words[value.stop - 1][0]
            parts[key] = "".join(texts[first:last + 1]).strip()
        else:
            parts[key] = value
    return parts


def match(pattern: str, text: str) -> dict | None:
    """The parts that ``pattern``, written as the ``_GRAMMAR`` patterns
    are, names in ``text``; None if it does not match all of ``text``."""
    return _read(_compile(pattern), _lex(text))


def parse(stmt: str) -> Statement | None:
    """``stmt``'s kind and parts, by the first ``_GRAMMAR`` line that
    matches all of it.  A query (SELECT, WITH, VALUES or a parenthesized
    one) is kind ``QUERY`` from its first token alone.  A statement that
    starts as a form does but matches none raises ``ValueError``; one
    that starts as none does is None."""
    first = _TOKEN_RE.match(stmt)
    head = first.group().upper() if first else ""
    if head in _QUERY_HEADS:
        return Statement("QUERY")
    lexed = _lex(stmt)
    for kind, pattern in _GRAMMAR:
        parts = _read(_compile(pattern), lexed)
        if parts is not None:
            return Statement(kind, frozenset(parts.pop("flags")),
                             parts.pop("db", None), parts.pop("table", None),
                             parts)
    for kind, pattern in _GRAMMAR:
        # the keywords the form starts with, as many as the statement
        # holds, then anything
        first, *start = itertools.takewhile(
            lambda e: e[0] in ("kw", "alt"), _compile(pattern))
        elements = _compile("[<rest*>]")
        for e in reversed(start):
            elements = [("alt", [("", [e, *elements]), ("", [])])]
        if _match([first, *elements], 0, len(lexed[1]), lexed,
                  ()) is not None:
            raise ValueError(f"cannot parse {kind}: {stmt[:80]}")
    return None


# --- call transforms -------------------------------------------------------


def _fmt_args(args: list[list[tuple[str, str]]]) -> list[str]:
    return [untokenize(a) for a in args]


def _xform_dateadd(args: list[str]) -> str:
    unit = args[0].strip().strip("'\"").upper()
    return (
        f"timestampadd({unit}, {args[1]}, CAST(({args[2]}) AS TIMESTAMP))"
    )


def _xform_datefromparts(args: list[str]) -> str:
    defaults = ["1970", "1", "1", "0", "0", "0"]
    full = list(args) + defaults[len(args):]
    y, mo, d, h, mi, s = full[:6]
    return f"make_timestamp({y}, {mo}, {d}, {h}, {mi}, {s})"


def _xform_ts_extract(fn: str):
    def xf(args: list[str]) -> str:
        return f"{fn}(CAST(({args[0]}) AS TIMESTAMP))"

    return xf


def _convert_expr(args: list[str], try_: bool) -> str:
    """CONVERT('TYPE', v[, rule]) — reference function.rs:122-149 +
    cast.rs:146-303."""
    target = args[0].strip().strip("'\"").upper()
    val = args[1]
    rule = args[2].strip() if len(args) > 2 else None
    cast_fn = "try_cast" if try_ else "cast"

    if target in ("BOOLEAN", "INT", "INTEGER", "UNSIGNED INT", "FLOAT"):
        spark_t = {
            "BOOLEAN": "BOOLEAN",
            "INT": "BIGINT",
            "INTEGER": "BIGINT",
            "UNSIGNED INT": "BIGINT",
            "FLOAT": "DOUBLE",
        }[target]
        return f"{cast_fn}(({val}) AS {spark_t})"
    if target == "TEXT":
        if rule is None or rule == "000":
            return f"{cast_fn}(({val}) AS STRING)"
        r = rule.strip("'\"")
        if r == "DATETIME":
            return (
                f"date_format(CAST(({val}) AS TIMESTAMP),"
                " 'yyyy-MM-dd HH:mm:ss')"
            )
        if r == "MONEY":
            return f"concat('$', format_number(CAST(({val}) AS DOUBLE), 2))"
        if r == "SEPARATED":
            return f"format_number(CAST(({val}) AS DOUBLE), 2)"
        java = strftime_to_java(r)
        return f"date_format(CAST(({val}) AS TIMESTAMP), '{java}')"
    if target in ("TIMESTAMP", "DATETIME", "DATE", "TIME"):
        ts_fn = "try_to_timestamp" if try_ else "to_timestamp"
        if rule is None:
            return _ts_any_chain(val, try_)
        code = rule.strip("'\"")
        if code in ("000", "0"):
            return _ts_epoch_expr(val, try_)
        if code.upper() == "TIMESTAMP":
            return _ts_epoch_expr(val, try_)
        if code.upper() in _NAMED_RULE_FORMATS:
            return _ts_format_chain(
                val, _NAMED_RULE_FORMATS[code.upper()], try_
            )
        if code.isdigit() and int(code) in _RULE_DATETIME_FMT:
            fmt = _RULE_DATETIME_FMT[int(code)]
            if fmt is None:
                return _ts_epoch_expr(val, try_)
            return f"{ts_fn}(({val}), '{fmt}')"
        java = strftime_to_java(code)
        return f"{ts_fn}(({val}), '{java}')"
    # unknown target: plain cast and let Spark complain
    return f"{cast_fn}(({val}) AS {target})"


_INT_LITERAL_RE = re.compile(r"^[+-]?\d+$")


def _xform_rand(args: list[str]) -> str:
    """Reference RAND (function.rs:95-113): RAND() → float in [0,1);
    RAND(min,max) → integer in [min,max]; any other arity errors."""
    if len(args) == 1 and not args[0].strip():
        return "rand()"
    if len(args) == 2:
        lo, hi = args
        return (
            f"CAST(floor(rand() * (({hi}) - ({lo}) + 1)) + ({lo}) AS BIGINT)"
        )
    raise ValueError(
        f"RAND takes 0 or 2 arguments, found {len(args)}"
    )


def _xform_pow(args: list[str]) -> str:
    """Reference POW (utility.rs:104-108) is generic: int^int stays I64.
    Static dispatch on literal operands (a column-typed dispatch would
    force one CASE result type and lose the int-ness anyway)."""
    if len(args) != 2:
        raise ValueError(f"POW takes 2 arguments, found {len(args)}")
    # untokenize renders a signed literal as "- 1"; compact whitespace
    # before the literal match or POW(-1, 0) would silently fall to the
    # float power() path (found by test_property_dialect)
    a, b = (re.sub(r"\s+", "", x) for x in args)
    if _INT_LITERAL_RE.match(a) and _INT_LITERAL_RE.match(b):
        return f"CAST(round(power(({a}), ({b}))) AS BIGINT)"
    a, b = (x.strip() for x in args)
    return f"power(({a}), ({b}))"


_NUM_LITERAL_RE = re.compile(r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$")


def _literal_kind(expr: str) -> str | None:
    expr = expr.strip()
    if expr.startswith("'"):
        return "str"
    if _NUM_LITERAL_RE.match(expr):
        return "num"
    return None


def _xform_nullif(args: list[str]) -> str:
    """Reference comparison of incomparable types yields false
    (binary.rs:52-58,108-115), so NULLIF(1,'x') returns 1. Spark instead
    coerces and fails; static-dispatch literal kind mismatches."""
    if len(args) != 2:
        raise ValueError(f"NULLIF takes 2 arguments, found {len(args)}")
    ka, kb = _literal_kind(args[0]), _literal_kind(args[1])
    if ka and kb and ka != kb:
        return f"({args[0]})"
    return f"nullif(({args[0]}), ({args[1]}))"


_SPARK_KIND = {
    "boolean": "bool",
    "tinyint": "i64", "smallint": "i64", "int": "i64", "bigint": "i64",
    "long": "i64",
    "float": "f64", "double": "f64",
    "string": "str", "varchar": "str",
    "timestamp": "ts", "timestamp_ntz": "ts",
    "variant": "any",
}


# Reference ValueType kind returned by each scalar function the typer
# understands (function.rs / utility.rs); everything else resolves None
# (unknown) so the IIF dispatch stays conservative.
_FN_KINDS: dict[str, str] = {
    "UPPER": "str", "LOWER": "str", "LEFT": "str", "RIGHT": "str",
    "REPLACE": "str", "CONCAT": "str", "TRIM": "str", "LTRIM": "str",
    "RTRIM": "str", "SUBSTR": "str", "SUBSTRING": "str", "UUID": "str",
    "LEN": "i64", "OCTET_LENGTH": "i64", "LENGTH": "i64",
    "YEAR": "i64", "MONTH": "i64", "DAY": "i64", "HOUR": "i64",
    "MINUTE": "i64", "SECOND": "i64", "NOW": "i64",
    "UNIX_TIMESTAMP": "i64",
    "ROUND": "f64", "POWER": "f64", "SQRT": "f64", "EXP": "f64",
    "LN": "f64", "LOG": "f64", "RAND": "f64",
    "ABS": None,  # kind-preserving: resolved from its argument below
}

# CAST target type name → reference kind (mirrors _CAST_TYPE_MAP +
# _SPARK_KIND; ANY/VARIANT is the per-row dynamic kind).
_CAST_KINDS: dict[str, str] = {
    "TINYINT": "i64", "SMALLINT": "i64", "INT": "i64", "INTEGER": "i64",
    "BIGINT": "i64", "LONG": "i64",
    "FLOAT": "f64", "DOUBLE": "f64", "REAL": "f64",
    "TEXT": "str", "STRING": "str", "VARCHAR": "str", "CHAR": "str",
    "BOOLEAN": "bool", "BOOL": "bool",
    "TIMESTAMP": "ts", "DATETIME": "ts",
    "ANY": "any", "VARIANT": "any",
}


class _KindTyper:
    """Minimal recursive-descent kind inference over a rendered branch
    fragment — the 'small expression typer over the dialect token tree'
    that closes the last ``Value::Any`` sliver (DIVERGENCES #4): a
    computed branch like ``n + 1`` resolves to the reference kind its
    evaluation would carry (value/mod.rs:232-241 — I64 op I64 stays I64,
    I64 op F64 promotes to F64, ``||`` is Str), so mixed-kind COMPUTED
    IIF branches take the VARIANT wrap exactly like literal and bare-
    column branches.  Any construct it does not understand types as
    None (unknown) — the dispatch then leaves the plain ``if()``."""

    def __init__(self, tokens: list[tuple[str, str]],
                 col_kinds: dict[str, str]):
        self.toks = tokens
        self.col_kinds = col_kinds
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str] | None:
        t = self.peek()
        if t is not None:
            self.i += 1
        return t

    @staticmethod
    def _combine(op: str, a: str | None, b: str | None) -> str | None:
        if op == "||":
            return "str"
        if "any" in (a, b):
            return "any"
        if a is None or b is None:
            return None
        if a == b == "i64":
            return "i64"  # incl. `/`: reference int division stays I64
        if {a, b} <= {"i64", "f64"}:
            return "f64"
        return None

    def expr(self) -> str | None:
        kind = self.term()
        while (t := self.peek()) and t[1] in ("+", "-", "||"):
            self.next()
            kind = self._combine(t[1], kind, self.term())
        return kind

    def term(self) -> str | None:
        kind = self.factor()
        while (t := self.peek()) and t[1] in ("*", "/", "%"):
            self.next()
            kind = self._combine(t[1], kind, self.factor())
        return kind

    def factor(self) -> str | None:
        t = self.peek()
        if t and t[1] in ("+", "-"):
            self.next()
            return self.factor()
        return self.primary()

    def _call_args(self) -> list[str | None]:
        """Type each top-level comma-separated argument of a call whose
        opening paren is current; consumes through the closing paren."""
        assert self.next()[1] == "("
        kinds: list[str | None] = []
        if (t := self.peek()) and t[1] == ")":
            self.next()
            return kinds
        while True:
            kinds.append(self.expr())
            t = self.next()
            if t is None:
                raise ValueError("unbalanced call")
            if t[1] == ")":
                return kinds
            if t[1] != ",":
                raise ValueError(f"unexpected {t[1]!r} in call args")

    def primary(self) -> str | None:
        t = self.next()
        if t is None:
            raise ValueError("empty expression")
        kind, text = t
        if kind == "string":
            return "str"
        if kind == "number":
            return "i64" if _INT_LITERAL_RE.match(text) else "f64"
        if text == "(":
            inner = self.expr()
            if (nxt := self.next()) is None or nxt[1] != ")":
                raise ValueError("unbalanced parens")
            return inner
        if kind in ("ident", "qident"):
            up = text.upper()
            if up in ("TRUE", "FALSE"):
                return "bool"
            if up == "NULL":
                return None
            nxt = self.peek()
            if up == "CAST" and nxt and nxt[1] == "(":
                return self._cast_kind()
            if nxt and nxt[1] == "(":
                args = self._call_args()
                if up in ("IFNULL", "COALESCE"):
                    ks = set(args)
                    return args[0] if len(ks) == 1 else (
                        "any" if "any" in ks else None)
                if up in ("IIF", "IF") and len(args) == 3:
                    # IF appears when a nested IIF was already transformed
                    ks = {args[1], args[2]}
                    return args[1] if len(ks) == 1 else (
                        "any" if None not in ks else None)
                if up == "NULLIF" and len(args) == 2:
                    return args[0]
                if up == "ABS":
                    return args[0] if args else None
                return _FN_KINDS.get(up)
            # column path: ident or ident.ident
            path = text
            while (n1 := self.peek()) and n1[1] == ".":
                self.next()
                n2 = self.next()
                if n2 is None or n2[0] not in ("ident", "qident"):
                    raise ValueError("bad column path")
                path += "." + n2[1]
            return self.col_kinds.get(path.lower())
        raise ValueError(f"untypeable token {text!r}")

    def _cast_kind(self) -> str | None:
        """CAST ( expr AS type ) — opening paren is next."""
        as_i, close = _cast_as(self.toks, self.i)
        if close == len(self.toks):
            raise ValueError("unbalanced CAST")
        self.i = close + 1
        if as_i is None:
            return None
        ty = self.toks[as_i + 1]
        return _CAST_KINDS.get(ty[1].upper()) if ty[0] == "ident" else None


def _iif_branch_kind(arg: str, col_kinds: dict[str, str]) -> str | None:
    """The reference ValueType kind of one IIF branch, resolved
    statically: literals, computed expressions, and bare columns (and
    ``alias.col`` paths), whose kinds ``col_kinds`` gives from the
    caller's schema snapshot (``_visible_schema``)."""
    s = arg.strip()
    if not s:
        return None
    try:
        typer = _KindTyper(tokenize(s), col_kinds)
        kind = typer.expr()
        # a trailing unconsumed token means the fragment holds syntax the
        # typer does not model (CASE, BETWEEN, comparisons, ...) — unknown
        return kind if typer.peek() is None else None
    except (ValueError, AssertionError, IndexError, TypeError):
        return None


def _xform_iif(args: list[str], col_kinds: dict[str, str]) -> str:
    """Reference IIF (function.rs) over ``Value::Any``: the two branches
    may carry DIFFERENT types and the result takes the chosen branch's
    type per row (``IIF(1=1, 'String', 1)`` → Str, ``IIF(0=1, 'String',
    1)`` → I64).  A Spark column has one static type, but Spark 4's
    VARIANT holds per-row dynamic values — so mixed-KIND branches
    (literals since r3; int-vs-float literals and schema-typed COLUMN
    branches since r4) are emitted as
    ``if(cond, CAST(b1 AS VARIANT), CAST(b2 AS VARIANT))`` and the
    Payload layer converts VariantVal cells back to native Python
    values, reproducing the reference's per-row dynamic result exactly
    (DIVERGENCES #4).  A literal NULL condition is rejected like the
    reference (func_other.rs:105)."""
    if len(args) != 3:
        raise ValueError(f"IIF takes 3 arguments, found {len(args)}")
    cond = args[0].strip()
    if cond.upper() == "NULL":
        raise ValueError("IIF condition must be BOOLEAN, found NULL")
    ka = _iif_branch_kind(args[1], col_kinds)
    kb = _iif_branch_kind(args[2], col_kinds)
    # a declared-Any (VARIANT) branch forces the wrap even when the other
    # branch's kind is unresolvable — plain if() cannot coerce VARIANT
    # against any other Spark type, while the reference succeeds
    if (ka and kb and ka != kb) or "any" in (ka, kb):
        # fractional literals inside the CAST still get the DOUBLE wrap
        # from _floatify_literals, so 2.5 surfaces as F64, not DECIMAL
        return (
            f"if(({cond}), CAST(({args[1]}) AS VARIANT), "
            f"CAST(({args[2]}) AS VARIANT))"
        )
    return f"if(({args[0]}), ({args[1]}), ({args[2]}))"


def _xform_avg(args: list[str]) -> str:
    """Reference AVG is rewritten at plan time to SUM(x)/COUNT(x)
    (src/data/recipe/new.rs:117-129,183-193) — integer division when the
    column is integral. Emitting the same decomposition lets the engine's
    int-division rewrite reproduce it exactly."""
    if len(args) != 1:
        raise ValueError(f"AVG takes 1 argument, found {len(args)}")
    a = args[0]
    return f"(SUM({a}) / COUNT({a}))"


_CALL_TRANSFORMS = {
    "AVG": _xform_avg,
    "DATEADD": _xform_dateadd,
    "DATEFROMPARTS": _xform_datefromparts,
    "CONVERT": lambda a: _convert_expr(a, try_=False),
    "TRY_CONVERT": lambda a: _convert_expr(a, try_=True),
    "YEAR": _xform_ts_extract("year"),
    "MONTH": _xform_ts_extract("month"),
    "DAY": _xform_ts_extract("day"),
    "HOUR": _xform_ts_extract("hour"),
    "MINUTE": _xform_ts_extract("minute"),
    "SECOND": _xform_ts_extract("second"),
    "RAND": _xform_rand,
    "POW": _xform_pow,
    "NULLIF": _xform_nullif,
    "IIF": _xform_iif,  # also takes the statement's column kinds
}

_SIMPLE_RENAMES = {
    "LEN": "octet_length",
    "UUID": "uuid",
    "NOW": "unix_timestamp",
}


def _transform(
    tokens: list[tuple[str, str]], col_kinds: dict[str, str]
) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        kind, text = tokens[i]
        upper = text.upper() if kind == "ident" else ""
        is_call = (
            kind == "ident"
            and i + 1 < len(tokens)
            and tokens[i + 1][1] == "("
            and (upper in _CALL_TRANSFORMS or upper in _SIMPLE_RENAMES)
        )
        if is_call:
            j = _close(tokens, i + 1)
            inner = _transform(tokens[i + 2:j], col_kinds)
            if upper in _CALL_TRANSFORMS:
                args = _fmt_args(_split_args(inner))
                xf = _CALL_TRANSFORMS[upper]
                replacement = (xf(args, col_kinds) if xf is _xform_iif
                               else xf(args))
                out.extend(tokenize(replacement))
            else:
                out.append(("ident", _SIMPLE_RENAMES[upper]))
                out.append(("op", "("))
                out.extend(inner)
                out.append(("op", ")"))
            i = j + 1
            continue
        out.append((kind, text))
        i += 1
    return out


def _substitute_variables(
    tokens: list[tuple[str, str]], variables: dict[str, str]
) -> list[tuple[str, str]]:
    """Replace bare identifiers (or $name) bound by SET with their literal
    (reference simplify_by_tempdb, src/data/recipe/new.rs:24-47)."""
    if not variables:
        return tokens
    lookup = {k.lower(): v for k, v in variables.items()}
    out: list[tuple[str, str]] = []
    for idx, (kind, text) in enumerate(tokens):
        if kind == "ident":
            name = text.lstrip("$@").lower()
            prev = tokens[idx - 1][1] if idx else ""
            nxt = tokens[idx + 1][1] if idx + 1 < len(tokens) else ""
            if name in lookup and prev != "." and nxt not in (".", "("):
                out.extend(tokenize(lookup[name]))
                continue
        out.append((kind, text))
    return out


def _rewrite_db_names(
    tokens: list[tuple[str, str]], db_names: set[str]
) -> list[tuple[str, str]]:
    """``db.table`` → ``db__table`` view names for attached databases."""
    if not db_names:
        return tokens
    lowered = {d.lower() for d in db_names}
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        kind, text = tokens[i]
        if (
            kind == "ident"
            and text.lower() in lowered
            and i + 2 < len(tokens)
            and tokens[i + 1][1] == "."
            and tokens[i + 2][0] == "ident"
        ):
            out.append(("ident", f"{text}__{tokens[i + 2][1]}"))
            i += 3
            continue
        out.append((kind, text))
        i += 1
    return out


_INT_TYPES = "('tinyint','smallint','int','bigint')"


def _div_case(left: str, right: str) -> str:
    """Reference `/` semantics (src/data/value/methods/binary.rs:66-92):
    int ÷ int is integer division, anything else float division. Spark's
    `/` is always double, so dispatch on runtime operand types."""
    return (
        f"(CASE WHEN typeof({left}) IN {_INT_TYPES} "
        f"AND typeof({right}) IN {_INT_TYPES} "
        f"THEN CAST(CAST(({left}) AS BIGINT) div CAST(({right}) AS BIGINT) "
        f"AS DOUBLE) "
        f"ELSE CAST(({left}) AS DOUBLE) / CAST(({right}) AS DOUBLE) END)"
    )


def _take_operand_back(out: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Pop the primary expression preceding a binary operator: a paren
    group (with optional callee), a literal, or a dotted identifier."""
    if not out:
        return []
    operand: list[tuple[str, str]] = []
    if out[-1][1] == ")":
        depth = 0
        while out:
            tok = out.pop()
            operand.insert(0, tok)
            if tok[1] == ")":
                depth += 1
            elif tok[1] == "(":
                depth -= 1
                if depth == 0:
                    break
        if out and out[-1][0] == "ident":
            operand.insert(0, out.pop())
    elif out[-1][0] in ("ident", "number", "string", "qident"):
        operand.insert(0, out.pop())
        while len(out) >= 2 and out[-1][1] == "." and out[-2][0] == "ident":
            operand.insert(0, out.pop())
            operand.insert(0, out.pop())
    return operand


def _take_operand_forward(
    tokens: list[tuple[str, str]], i: int
) -> tuple[list[tuple[str, str]], int]:
    """Read the primary expression starting at ``i``."""
    start = i
    if i < len(tokens) and tokens[i][1] in ("+", "-"):
        i += 1
    if i < len(tokens) and tokens[i][0] in ("ident", "number", "string"):
        i += 1
        # dotted name and/or call
        while i + 1 < len(tokens) and tokens[i][1] == "." and tokens[i + 1][0] == "ident":
            i += 2
    if i < len(tokens) and tokens[i][1] == "(":
        i = min(_close(tokens, i) + 1, len(tokens))
    return tokens[start:i], i


def _is_static_int(expr: str, int_cols: frozenset[str] | set[str]) -> bool:
    """Operand is provably I64: an int literal or a column the caller's
    schema snapshot types integral in every providing table."""
    compact = re.sub(r"\s+", "", expr)
    if _INT_LITERAL_RE.match(compact):
        return True
    return compact.lower() in int_cols


def _rewrite_division(
    tokens: list[tuple[str, str]],
    int_cols: frozenset[str] | set[str] = frozenset(),
) -> list[tuple[str, str]]:
    """Rewrite ``a / b`` into reference division semantics
    (binary.rs:66-92: int ÷ int is integer division → I64).

    Operands are primaries (literal / column / call / paren group) — for
    mixed `*`//` chains the reference's left-assoc grouping may differ;
    parenthesize explicitly in such queries. When BOTH operands are
    provably integral (int literals, or columns the schema snapshot
    types integral — see ``_visible_schema``) the rewrite dispatches
    statically to ``div`` so the declared result type stays I64 like the
    reference; otherwise a runtime ``typeof`` CASE picks int-vs-float
    division per row, necessarily DOUBLE-typed (DIVERGENCES #3)."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        if tokens[i][1] == "/":
            left = _take_operand_back(out)
            right, j = _take_operand_forward(tokens, i + 1)
            if left and right:
                lhs, rhs = untokenize(left), untokenize(right)
                if _is_static_int(lhs, int_cols) and \
                        _is_static_int(rhs, int_cols):
                    out.extend(tokenize(f"(({lhs}) div ({rhs}))"))
                else:
                    out.extend(tokenize(_div_case(lhs, rhs)))
                i = j
                continue
            out.extend(left)  # degenerate; restore
        out.append(tokens[i])
        i += 1
    return out


_CAST_TYPE_MAP = {
    "TEXT": "STRING",  # Spark has no TEXT type name
    "FLOAT": "DOUBLE",  # reference FLOAT is F64 (value/mod.rs:69-82)
    "INT": "BIGINT",  # reference INTEGER is I64
    "INTEGER": "BIGINT",
}


def _cast_as(
    tokens: list[tuple[str, str]], i: int
) -> tuple[int | None, int]:
    """For the CAST whose ``(`` is at ``i``: the index of its last
    depth-1 ``AS`` (None if it has none) and of its closing paren."""
    close = _close(tokens, i)
    as_i = None
    for j, kind, text in _top(tokens[i + 1:close]):
        if kind == "ident" and text.upper() == "AS":
            as_i = i + 1 + j
    return as_i, close


def _rewrite_casts(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Map each ``CAST``/``TRY_CAST(x AS T)`` to Spark, operand first:

    - ``TIMESTAMP`` follows the reference's rule-less fallback chain
      (cast.rs:249-252): epoch seconds, then every DATETIME/DATE/TIME
      parse format — so ``CAST('03/02/2001 04:05' AS TIMESTAMP)`` parses
      like the reference instead of erroring on Spark's single ISO
      format;
    - ``ANY`` is the identity in the reference — casting to
      ``ValueType::Any`` returns the value unchanged
      (value_type/cast.rs:14) — so only the parenthesized operand stays;
    - reference type names (``_CAST_TYPE_MAP``) get their Spark names.

    Only CAST argument lists are touched, so ``SELECT x AS float``
    aliases stay as they are."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        kind, text = tokens[i]
        if not (
            kind == "ident"
            and text.upper() in ("CAST", "TRY_CAST")
            and i + 1 < len(tokens)
            and tokens[i + 1][1] == "("
        ):
            out.append((kind, text))
            i += 1
            continue
        as_i, close = _cast_as(tokens, i + 1)
        end = tokens[close:close + 1]  # the `)`, if the CAST closes
        if as_i is None:
            out += tokens[i:i + 2] + _rewrite_casts(tokens[i + 2:close]) + end
            i = close + 1
            continue
        operand = _rewrite_casts(tokens[i + 2:as_i])
        target = tokens[as_i + 1:close]
        ty = target[0][1].upper() if end and len(target) == 1 else ""
        if ty == "TIMESTAMP":
            out += tokenize(_ts_any_chain(
                untokenize(operand), try_=text.upper() == "TRY_CAST"
            ))
        elif ty == "ANY" and operand:
            out += [("op", "("), *operand, ("op", ")")]
        else:
            if target and target[0][0] == "ident" and \
                    target[0][1].upper() in _CAST_TYPE_MAP:
                target = [("ident", _CAST_TYPE_MAP[target[0][1].upper()]),
                          *target[1:]]
            out += tokens[i:i + 2] + operand + [tokens[as_i]]
            out += _rewrite_casts(target) + end
        i = close + 1
    return out


def _floatify_literals(
    tokens: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Fractional literals → DOUBLE. The reference has no decimal type at
    all — every fractional literal is F64 (src/data/value/mod.rs:69-82) —
    while Spark parses ``1.7`` as DECIMAL(2,1). Rewrite keeps arithmetic
    and function results (ROUND, AVG…) float-typed like the reference."""
    out: list[tuple[str, str]] = []
    for kind, text in tokens:
        if kind == "number" and ("." in text or "e" in text or "E" in text):
            out.extend(tokenize(f"CAST({text} AS DOUBLE)"))
        else:
            out.append((kind, text))
    return out


_JOIN_TERMINATORS = {
    "ON", "USING", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET",
    "UNION", "EXCEPT", "INTERSECT", "JOIN", "LEFT", "RIGHT", "INNER",
    "FULL", "CROSS", "OUTER", "NATURAL", "AS",
}

_INTEGRAL_TYPE_NAMES = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
}


def _visible_schema(
    tokens: list[tuple[str, str]],
    schema: dict[str, dict[str, str]] | None,
    db_names: set[str] | None = None,
):
    """Resolve the statement's visible columns against the caller's
    catalog snapshot ``{table_name: {column: spark_type}}``.

    Returns ``(unique_owner, int_cols, alias_real)``:

    - ``unique_owner``: column → the *real* table name of the single
      FROM-clause relation providing it (for reference ``table.column``
      labeling of bare columns).  The reference labels with
      ``column.table.name`` — the plain table name with any alias and
      database qualifier stripped (refine_item.rs:42, planned.rs:263
      format ``{}.{}`` on ``ComplexTableName.name``) — so an attached
      ``lake.nation`` (rewritten ``lake__nation``) labels
      ``nation.n_name`` and ``FROM lbl_a x`` labels ``lbl_a.num``;
    - ``int_cols``: lower-cased names (bare and ``alias.col``) whose type
      is integral in EVERY providing table (safe static int-division
      dispatch) — these keep the *alias*, because that is how the query
      text references them;
    - ``alias_real``: FROM-clause alias (lower-cased) → real table name,
      so explicit ``alias.col`` select items can also label with the
      real table name like the reference does;
    - ``col_kinds``: lower-cased bare and ``alias.col`` names → the
      reference ValueType kind of the column's Spark type (bool / i64 /
      f64 / str / ts / any), where the kind is unambiguous across
      providers — feeds the mixed-kind IIF → VARIANT dispatch.

    Conservative by design: bails to ``({}, set())`` when the statement
    has a CTE or a subquery (a name might shadow a table column with a
    computed type) or references a table missing from the catalog
    (views, table functions).  The reference dialect has neither CTEs
    nor subqueries, so every reference-shaped query gets the exact
    static typing/labeling; beyond-reference queries keep the runtime
    dispatch.  ``schema[""]`` marks fragment mode (UPDATE SET / DEFAULT
    expressions): its columns are ambient — visible without a FROM."""
    empty: tuple[dict, set, dict, dict] = ({}, set(), {}, {})
    if not schema:
        return empty
    if "" in schema:  # fragment mode: ambient single-table columns
        # The same CTE/subquery bail as the statement path: a fragment
        # (UPDATE SET/WHERE) containing a scalar subquery could statically
        # dispatch div on a subquery column that merely shares its name
        # with an integral target-table column.
        for k, (kind, text) in enumerate(tokens):
            if kind == "ident" and text.upper() in ("WITH", "SELECT"):
                return empty
        int_cols = {
            c.lower()
            for c, t in schema[""].items()
            if t.lower() in _INTEGRAL_TYPE_NAMES
        }
        kinds = {
            c.lower(): _SPARK_KIND[t.lower()]
            for c, t in schema[""].items()
            if t.lower() in _SPARK_KIND
        }
        return {}, int_cols, {}, kinds
    for k, (kind, text) in enumerate(tokens):
        if kind == "ident" and text.upper() == "WITH":
            return empty
        if text == "(" and k + 1 < len(tokens) and \
                tokens[k + 1][0] == "ident" and \
                tokens[k + 1][1].upper() == "SELECT":
            return empty
    # collect FROM/JOIN relations (with aliases) at paren depth 0
    rels: list[tuple[str, str]] = []  # (alias, table_name)
    in_from = False
    for i, kind, text in _top(tokens):
        up = text.upper() if kind == "ident" else ""
        if up in ("FROM", "JOIN") or (in_from and text == ","):
            j = i + 1
            if j < len(tokens) and tokens[j][0] == "ident":
                name = tokens[j][1]
                j += 1
                while j + 1 < len(tokens) and tokens[j][1] == "." and \
                        tokens[j + 1][0] == "ident":
                    name += "." + tokens[j + 1][1]
                    j += 2
                alias = name
                if j < len(tokens) and tokens[j][0] == "ident" and \
                        tokens[j][1].upper() == "AS":
                    j += 1
                if j < len(tokens) and tokens[j][0] == "ident" and \
                        tokens[j][1].upper() not in _CLAUSE_KWS and \
                        tokens[j][1].upper() not in _JOIN_TERMINATORS:
                    alias = tokens[j][1]
                rels.append((alias, name))
            in_from = up == "FROM" or (in_from and text == ",")
        elif in_from and up in _CLAUSE_KWS and up != "FROM":
            in_from = False
    if not rels:
        return empty
    lowered = {k.lower(): v for k, v in schema.items()}
    db_lowered = {d.lower() for d in (db_names or set())}

    def real_name(name: str) -> str:
        # reference ComplexTableName.name: strip database qualifiers —
        # both dotted (`lake.nation`) and the attached-db rewrite
        # (`lake__nation`) label as plain `nation`
        if "." in name:
            name = name.rsplit(".", 1)[1]
        head, sep, tail = name.partition("__")
        if sep and tail and head.lower() in db_lowered:
            return tail
        return name

    owners: dict[str, set[str]] = {}  # col → providing aliases
    all_int: dict[str, bool] = {}
    alias_real: dict[str, str] = {}
    kind_sets: dict[str, set[str]] = {}
    col_kinds: dict[str, str] = {}
    for alias, name in rels:
        cols = lowered.get(name.lower())
        if cols is None:
            return empty  # unknown relation (view/function) — bail
        alias_real[alias.lower()] = real_name(name)
        for c, t in cols.items():
            cl = c.lower()
            owners.setdefault(cl, set()).add(alias)
            all_int[cl] = all_int.get(cl, True) and (
                t.lower() in _INTEGRAL_TYPE_NAMES
            )
            k = _SPARK_KIND.get(t.lower())
            if k:
                kind_sets.setdefault(cl, set()).add(k)
                col_kinds[f"{alias.lower()}.{cl}"] = k
    for cl, ks in kind_sets.items():
        if len(ks) == 1:  # every provider agrees on the kind
            col_kinds[cl] = next(iter(ks))
    int_cols: set[str] = set()
    for cl, als in owners.items():
        if all_int[cl]:
            int_cols.add(cl)
            for a in als:
                int_cols.add(f"{a.lower()}.{cl}")
    unique_owner = {
        cl: alias_real[next(iter(als)).lower()]
        for cl, als in owners.items()
        if len(als) == 1
    }
    return unique_owner, int_cols, alias_real, col_kinds


def _bare_join_on_true(
    tokens: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """``a JOIN b`` without ON/USING is a cross join in the reference
    (join/mod.rs:33-39 — constraint defaults to All); Spark's parser
    requires a condition, so insert ``ON TRUE``."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        kind, text = tokens[i]
        out.append((kind, text))
        i += 1
        if kind != "ident" or text.upper() != "JOIN":
            continue
        prev_kw = next(
            (t[1].upper() for t in reversed(out[:-1]) if t[0] == "ident"),
            "",
        )
        if prev_kw in ("CROSS", "NATURAL"):
            continue
        # copy the table reference: name(.name)* or (subquery), + alias
        j = i
        if j < len(tokens) and tokens[j][1] == "(":
            close = _close(tokens, j)
            out.extend(tokens[j:close + 1])
            j = close + 1
        else:
            while j < len(tokens) and tokens[j][0] == "ident":
                if tokens[j][1].upper() in _JOIN_TERMINATORS:
                    break
                out.append(tokens[j])
                j += 1
                if j + 1 < len(tokens) and tokens[j][1] == ".":
                    out.append(tokens[j])
                    j += 1
        # optional alias (AS x | bare x)
        if (
            j < len(tokens)
            and tokens[j][0] == "ident"
            and tokens[j][1].upper() == "AS"
        ):
            out.append(tokens[j])
            out.append(tokens[j + 1])
            j += 2
        if (
            j < len(tokens)
            and tokens[j][0] == "ident"
            and tokens[j][1].upper() not in _JOIN_TERMINATORS
        ):
            out.append(tokens[j])
            j += 1
        nxt = tokens[j][1].upper() if j < len(tokens) else ""
        if nxt not in ("ON", "USING"):
            out.append(("ident", "ON"))
            out.append(("ident", "TRUE"))
        i = j
    return out


_AGG_FN_NAMES = {"SUM", "COUNT", "MIN", "MAX", "AVG", "FIRST", "ANY_VALUE"}

_GROUP_END_KWS = {"HAVING", "ORDER", "LIMIT", "OFFSET",
                  "UNION", "EXCEPT", "INTERSECT"}


def _loose_group_by(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """The reference allows non-grouped, non-aggregate select items under
    GROUP BY, resolved against the group's first accumulated row
    (src/executor/query/select/mod.rs:149-183 evaluates select recipes on
    the rows that seeded each group). Spark requires every select item to
    aggregate or group; wrap bare-column items in ``first(col) AS col``.

    Conservative: applies only to a statement that starts with SELECT,
    has a single depth-0 GROUP BY (no depth-0 set operations), and only
    rewrites items that are plain (possibly dotted) identifiers."""
    if not tokens or tokens[0][1].upper() != "SELECT":
        return tokens
    from_i = group_i = -1
    for i, kind, text in _top(tokens):
        if kind == "ident":
            up = text.upper()
            if up == "FROM" and from_i < 0:
                from_i = i
            elif up == "GROUP" and i + 1 < len(tokens) \
                    and tokens[i + 1][1].upper() == "BY":
                group_i = i
            elif up in ("UNION", "EXCEPT", "INTERSECT"):
                return tokens
    if from_i < 0 or group_i < 0:
        return tokens
    group_end = next((i for i, kind, text in _top(tokens, group_i + 2)
                      if kind == "ident" and text.upper() in _GROUP_END_KWS),
                     len(tokens))
    norm = lambda toks: untokenize(toks).lower().replace(" ", "")
    group_exprs = {norm(g) for g in
                   _split_args(tokens[group_i + 2:group_end])}
    # also admit the bare column name of dotted group exprs (t.c ≡ c)
    group_exprs |= {g.rsplit(".", 1)[-1] for g in group_exprs}
    # GROUP BY ordinals (Spark-native `GROUP BY 1`) name select items by
    # 1-based position — those items are grouped, not loose
    group_ordinals = {int(g) for g in group_exprs if g.isdigit()}

    items = _split_args(tokens[1:from_i])
    rebuilt: list[tuple[str, str]] = [tokens[0]]
    changed = False
    for n, item in enumerate(items):
        if n:
            rebuilt.append(("op", ","))
        # split an explicit depth-0 `expr AS alias` so only the expression
        # is wrapped (``i AS g`` must become ``first(i) AS g``, never
        # ``first(i AS g)``)
        expr, label = item, None
        for j, kind, text in _top(item):
            if kind == "ident" and text.upper() == "AS" and j + 1 < len(item):
                expr, label = item[:j], item[j + 1][1]
                break
        is_bare = all(t[0] == "ident" or t[1] == "." for t in expr) and \
            expr and expr[-1][0] == "ident" and \
            expr[0][1].upper() not in ("DISTINCT", "ALL") and \
            not any(t[1].upper() in _AGG_FN_NAMES for t in expr)
        key = norm(expr)
        # grouped under its own name, its alias (`GROUP BY k` where the
        # item is `grp AS k`), or its 1-based ordinal (`GROUP BY 1`)
        if is_bare and key not in group_exprs \
                and key.rsplit(".", 1)[-1] not in group_exprs \
                and not (label and label.lower() in group_exprs) \
                and (n + 1) not in group_ordinals:
            out_label = label or expr[-1][1]
            rebuilt.extend(tokenize(
                f"first({untokenize(expr)}) AS {out_label}"
            ))
            changed = True
        else:
            rebuilt.extend(item)
    if not changed:
        return tokens
    rebuilt.extend(tokens[from_i:])
    return rebuilt


_SET_OP_KWS = {"UNION", "EXCEPT", "INTERSECT"}


def _rewrite_values_statement(
    tokens: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Statement-level ``VALUES (…),(…)`` → UNION ALL of SELECTs with the
    reference's ``unnamed_{i}`` labels (set_expr.rs:26-52). Also lifts
    Spark's inline-table restriction to foldable expressions, so
    ``VALUES (UUID())`` / ``VALUES (RAND())`` work like the reference.

    VALUES may appear as any set-operation operand (the reference's
    set_operation corpus runs ``VALUES … UNION VALUES …``), so the
    statement is split at depth-0 UNION/EXCEPT/INTERSECT and each
    operand is rewritten independently, parenthesized to preserve the
    original operator structure."""
    operands: list[list[tuple[str, str]]] = []
    ops: list[str] = []
    start = 0  # where the current operand begins
    for i, kind, text in _top(tokens):
        if kind != "ident" or text.upper() not in _SET_OP_KWS:
            continue
        operands.append(tokens[start:i])
        op, start = text.upper(), i + 1
        if (
            start < len(tokens)
            and tokens[start][0] == "ident"
            and tokens[start][1].upper() in ("ALL", "DISTINCT")
        ):
            op += " " + tokens[start][1].upper()
            start += 1
        ops.append(op)
    operands.append(tokens[start:])

    def rewrite_one(opnd: list[tuple[str, str]]) -> str | None:
        if not (
            opnd
            and opnd[0][0] == "ident"
            and opnd[0][1].upper() == "VALUES"
        ):
            return untokenize(opnd)  # e.g. a SELECT operand — untouched
        rows = _split_args(opnd[1:])
        selects = []
        for row in rows:
            if not row or row[0][1] != "(" or row[-1][1] != ")":
                return None  # not a plain row list
            exprs = _split_args(row[1:-1])
            items = ", ".join(
                f"({untokenize(e)}) AS unnamed_{i}"
                for i, e in enumerate(exprs)
            )
            selects.append(f"SELECT {items}")
        return " UNION ALL ".join(selects)

    if not ops:
        sql = rewrite_one(operands[0])
        return tokens if sql is None else tokenize(sql)
    parts = []
    for opnd in operands:
        sql = rewrite_one(opnd)
        if sql is None:
            return tokens  # leave the whole statement untouched
        # parenthesize only rewritten VALUES operands (they are UNION ALL
        # chains); a SELECT operand keeps its tokens bare so a trailing
        # ORDER BY / LIMIT still scopes over the whole set operation
        is_values = (
            opnd and opnd[0][0] == "ident" and opnd[0][1].upper() == "VALUES"
        )
        parts.append(f"({sql})" if is_values else sql)
    joined = parts[0]
    for op, part in zip(ops, parts[1:]):
        joined += f" {op} {part}"
    return tokenize(joined)


def _has_values_operand(tokens: list[tuple[str, str]]) -> bool:
    """True when any depth-0 set-operation operand starts with VALUES."""
    if tokens and tokens[0][0] == "ident" and tokens[0][1].upper() == "VALUES":
        return True
    expect_operand = False
    for _, kind, text in _top(tokens):
        if kind == "ident":
            up = text.upper()
            if up in _SET_OP_KWS:
                expect_operand = True
            elif expect_operand:
                if up == "VALUES":
                    return True
                if up not in ("ALL", "DISTINCT"):
                    expect_operand = False
    return False


def _rewrite_nested_values(
    tokens: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """``( VALUES … )`` at any depth → a parenthesized UNION ALL of
    SELECTs with ``unnamed_{i}`` labels, so a VALUES derived table
    (``FROM (VALUES (1),(2)) v`` / ``JOIN (VALUES …) v ON …``) exposes
    the reference's column names (set_expr.rs:26-52) instead of Spark's
    native ``colN``."""
    out: list[tuple[str, str]] = []
    i = 0
    n = len(tokens)
    while i < n:
        kind, text = tokens[i]
        if (
            text == "("
            and i + 1 < n
            and tokens[i + 1][0] == "ident"
            and tokens[i + 1][1].upper() == "VALUES"
            and (j := _close(tokens, i)) < n  # an unclosed group stays
        ):
            inner = tokens[i + 1:j]
            rewritten = _rewrite_values_statement(inner)
            if rewritten is not inner:
                out.append(("op", "("))
                out.extend(_rewrite_nested_values(rewritten))
                out.append(("op", ")"))
                i = j + 1
                continue
        out.append((kind, text))
        i += 1
    return out


_CLAUSE_KWS = {
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "UNION", "EXCEPT", "INTERSECT",
}


def _label_select_items(
    tokens: list[tuple[str, str]],
    unique_owner: dict[str, str] | None = None,
    alias_real: dict[str, str] | None = None,
) -> list[tuple[str, str]]:
    """Reference label parity for unaliased top-level SELECT items
    (src/data/recipe/planned.rs:252-274 via refine_item.rs:15):

    - bare column → its column name; when the query reads more than one
      table (plan/mod.rs:58 ``include_table = joins.len() != 1``) the
      label is ``table.column`` with the *real* table name
      (``column.table.name`` — alias and database prefix stripped): a
      dotted ``a.c`` resolves its alias through ``alias_real`` and a
      bare un-dotted column resolves its owning table via the caller's
      schema snapshot (``unique_owner``);
    - any other expression → ``unnamed_{i}``.

    Conservative: top-level statement only; items with an explicit or
    implicit alias are left untouched."""
    if not tokens or tokens[0][1].upper() != "SELECT":
        return tokens
    list_start = 1
    if len(tokens) > 1 and tokens[1][1].upper() in ("DISTINCT", "ALL"):
        list_start = 2
    list_end = len(tokens)
    from_i = -1
    for i, kind, text in _top(tokens, list_start):
        if kind == "ident" and text.upper() in _CLAUSE_KWS:
            list_end = i
            if text.upper() == "FROM":
                from_i = i
            break
    # multi-table iff the depth-0 FROM clause holds >1 relation
    multi_table = False
    if from_i >= 0:
        for _, kind, text in _top(tokens, from_i + 1):
            up = text.upper()
            if kind == "ident" and up in (
                "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
            ):
                break
            if text == "," or (kind == "ident" and up == "JOIN"):
                multi_table = True
    items = _split_args(tokens[list_start:list_end])
    rebuilt: list[tuple[str, str]] = tokens[:list_start]
    changed = False
    for n, item in enumerate(items):
        if n:
            rebuilt.append(("op", ","))
        if not item or any(t[1] == "*" for t in item):
            rebuilt.extend(item)
            continue
        has_alias = any(kind == "ident" and text.upper() == "AS"
                        for _, kind, text in _top(item))
        # implicit alias: trailing ident directly after a value token or
        # closing paren (`COUNT(1) c`, `num total`); `t . c` stays a path
        if (
            not has_alias
            and len(item) >= 2
            and item[-1][0] == "ident"
            and item[-2][1] not in (".",)
            and (
                item[-2][0] in ("ident", "number", "string", "qident")
                or item[-2][1] == ")"
            )
        ):
            has_alias = True
        if has_alias:
            rebuilt.extend(item)
            continue
        # a name is a word, quoted or not: its label is the name unquoted
        bare = all(t[0] in ("ident", "qident") or t[1] == "." for t in item)
        names = [unquote(t[1]) for t in item]
        if bare and len(item) == 1:
            owner = (unique_owner or {}).get(names[0].lower())
            if multi_table and owner:
                # reference labels bare columns table.column whenever the
                # query reads >1 table — resolve the owner from schema
                rebuilt.extend(item)
                rebuilt.append(("ident", "AS"))
                rebuilt.append(("qident", _backtick(f"{owner}.{names[0]}")))
                changed = True
            else:
                rebuilt.extend(item)  # plain column: Spark label == name
        elif bare and len(item) == 3 and item[1][1] == ".":
            if multi_table:
                # reference labels with the real table name even when the
                # query references the column through an alias
                # (ColumnInfo.table keeps alias separate from name)
                owner = (alias_real or {}).get(names[0].lower(), names[0])
                rebuilt.extend(item)
                rebuilt.append(("ident", "AS"))
                rebuilt.append(("qident", _backtick(f"{owner}.{names[2]}")))
                changed = True
            else:
                rebuilt.extend(item)  # single table: bare column name
        else:
            rebuilt.extend(item)
            rebuilt.append(("ident", "AS"))
            rebuilt.append(("ident", f"unnamed_{n}"))
            changed = True
    if not changed:
        return tokens
    rebuilt.extend(tokens[list_end:])
    return rebuilt


def _strip_top(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Accept-and-ignore ``SELECT TOP n`` like the reference, which
    destructures the parsed TOP clause away
    (src/executor/query/select/manual/mod.rs:48 binds ``top: _``)."""
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(tokens):
        kind, text = tokens[i]
        out.append((kind, text))
        if kind == "ident" and text.upper() == "SELECT" \
                and i + 2 < len(tokens) \
                and tokens[i + 1][1].upper() == "TOP" \
                and tokens[i + 2][0] == "number":
            i += 3
            continue
        i += 1
    return out


_QUALIFY_TAIL_KWS = {"ORDER", "LIMIT", "OFFSET", "UNION", "EXCEPT",
                     "INTERSECT"}


def _rewrite_qualify(tokens: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Rewrite a top-level ``QUALIFY <pred>`` (window-filter sugar, as in
    DuckDB/BigQuery/Snowflake — Spark has no QUALIFY) into a nested
    select:

        SELECT <items> FROM ... QUALIFY <pred> [ORDER/LIMIT ...]
        →
        SELECT * EXCEPT (__qualify) FROM (
          SELECT <items>, (<pred>) AS __qualify FROM ...
        ) __qualify_sub WHERE __qualify [ORDER/LIMIT ...]

    Window functions are legal in the inner select list, and Spark's
    lateral column aliases (3.4+) let the predicate reference sibling
    select-item aliases (``QUALIFY rn = 1``).  Depth-0 only; the tail
    ORDER BY/LIMIT stays on the outer query so it orders the filtered
    rows."""
    qidx = from_idx = None
    for i, kind, text in _top(tokens):
        if kind == "ident":
            up = text.upper()
            if up == "FROM" and from_idx is None:
                from_idx = i
            elif up == "QUALIFY":
                qidx = i
                break
    if qidx is None or from_idx is None or from_idx > qidx:
        return tokens
    # predicate runs to the first depth-0 tail keyword (or end)
    pend = next((i for i, kind, text in _top(tokens, qidx + 1)
                 if kind == "ident" and text.upper() in _QUALIFY_TAIL_KWS),
                len(tokens))
    pred = tokens[qidx + 1:pend]
    inner = (
        tokens[:from_idx]
        + [("op", ","), ("op", "(")]
        + pred
        + [("op", ")"), ("ident", "AS"), ("ident", "__qualify")]
        + tokens[from_idx:qidx]
    )
    out = tokenize("SELECT * EXCEPT (__qualify) FROM (")
    out += inner
    out += tokenize(") __qualify_sub WHERE __qualify")
    out += tokens[pend:]
    return out


def rewrite(
    sql: str,
    variables: dict[str, str] | None = None,
    db_names: set[str] | None = None,
    int_division: bool = False,
    schema: dict[str, dict[str, str]] | None = None,
) -> str:
    """Rewrite a MultiSQL-dialect query into Spark SQL.

    ``schema`` is an optional catalog snapshot ``{table: {col: type}}``
    (``""`` key = ambient fragment columns); with it, subquery-free
    statements get exact reference label parity for bare columns in
    multi-table queries and static I64 typing for int÷int on known
    integer columns (see ``_visible_schema``)."""
    tokens = tokenize(sql)
    tokens = _strip_top(tokens)
    tokens = _rewrite_qualify(tokens)
    tokens = _substitute_variables(tokens, variables or {})
    tokens = _rewrite_db_names(tokens, db_names or set())
    unique_owner, int_cols, alias_real, col_kinds = _visible_schema(
        tokens, schema, db_names
    )
    tokens = _rewrite_casts(tokens)
    tokens = _rewrite_nested_values(tokens)
    tokens = _bare_join_on_true(tokens)
    tokens = _label_select_items(tokens, unique_owner, alias_real)
    tokens = _loose_group_by(tokens)
    tokens = _transform(tokens, col_kinds)
    tokens = _floatify_literals(tokens)
    if int_division:
        tokens = _rewrite_division(tokens, int_cols)
    if _has_values_operand(tokens):
        tokens = _rewrite_values_statement(tokens)
    return untokenize(tokens)
