"""Property-based tests for the SQL pre-pass (hypothesis).

The reference's parser is regex-over-SQL (querier/queryClient.go:87-337);
these properties pin the invariants our re-derivation must hold for ANY
input, not just the golden cases: literal round-trips, boundary safety,
and literal-preservation of rewrites.
"""

from __future__ import annotations

import functools
import itertools
import operator
import re
from datetime import datetime, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from gigapi_querier_spark.plans.sqlpass import (
    drop_time_conjuncts,
    extract_time_range,
    parse_query,
    parse_time_literal_ns,
    rewrite_qualify_all,
    rewrite_time_literals,
    strip_db_qualifier,
    to_spark_sql,
)

NS = 1_000_000_000

_dt = st.datetimes(
    min_value=datetime(1970, 1, 2), max_value=datetime(2200, 1, 1)
)
_frac_ns = st.integers(min_value=0, max_value=999_999_999)


@given(_dt, _frac_ns)
@settings(max_examples=200, deadline=None)
def test_time_literal_roundtrip(dt, frac):
    """format(ns) → parse == ns for every RFC3339Nano instant."""
    base = int(dt.replace(tzinfo=timezone.utc).timestamp()) * NS + frac
    lit = datetime.fromtimestamp(base // NS, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    ) + f".{base % NS:09d}Z"
    assert parse_time_literal_ns(lit) == base


@given(_dt, st.sampled_from([">=", ">", "<=", "<", "="]))
@settings(max_examples=100, deadline=None)
def test_extract_matches_only_bare_time(dt, op):
    """A predicate on a column merely CONTAINING 'time' never extracts;
    the bare column always does."""
    lit = dt.replace(tzinfo=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    assert extract_time_range(f"endtime {op} '{lit}'").is_empty
    assert extract_time_range(f"t.time {op} '{lit}'").is_empty
    tr = extract_time_range(f"time {op} '{lit}'")
    assert not tr.is_empty


@given(st.text(alphabet=st.characters(blacklist_characters="'\\"), max_size=40))
@settings(max_examples=200, deadline=None)
def test_strip_db_qualifier_preserves_literals(payload):
    """Whatever sits inside a string literal survives the rewrite
    byte-for-byte — even the qualified name itself."""
    sql = f"SELECT * FROM mydb.t WHERE note = '{payload}mydb.t'"
    out = strip_db_qualifier(sql, "mydb", "t")
    assert out == f"SELECT * FROM t WHERE note = '{payload}mydb.t'"


@given(st.text(alphabet=st.characters(blacklist_characters="'\\"), max_size=40))
@settings(max_examples=200, deadline=None)
def test_shim_preserves_literals(payload):
    """Dialect rewrites never alter single-quoted literal contents (except
    the recognized cast/arrow forms, which this payload cannot produce)."""
    sql = f"SELECT list_min(xs), '{payload}' AS tag FROM t"
    out = to_spark_sql(sql)
    assert f"'{payload}'" in out
    assert out.startswith("SELECT array_min(xs)")


@given(_dt)
@settings(max_examples=100, deadline=None)
def test_rewrite_time_literals_is_constant_fold(dt):
    """`time >= '<lit>'` folds to the exact ns integer parse() returns."""
    lit = dt.replace(tzinfo=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    ns = parse_time_literal_ns(lit)
    out = rewrite_time_literals(f"SELECT * FROM t WHERE time >= '{lit}'")
    assert out == f"SELECT * FROM t WHERE time >= {ns}"


# --- quoted text -------------------------------------------------------------
#: Text some rewrite acts on when it stands outside quotes.
_TRIGGERS = (
    "strpos(",
    "SIMILAR TO 'a'",
    "USING SAMPLE 5%",
    " FROM ",
    "QUALIFY",
    "list_sum(",
    "x->'k'",
    "lambda x:",
    "time >= '2024-01-01T00:00:00Z'",
    "mydb.weather",
    "from mydb.weather",
    ", mydb.weather",
)
_FILLERS = ("(", ")", ",", "x", "1", " ")


def _quote(q: str, text: str) -> str:
    """``text`` quoted with ``q``; a string escapes its own quote char."""
    return q + (text if q == "`" else text.replace(q, "\\" + q)) + q


_quoted = st.builds(
    _quote,
    st.sampled_from(("'", '"', "`")),
    st.lists(st.sampled_from(_TRIGGERS + _FILLERS), min_size=1, max_size=4).map("".join),
)
#: the same rewrites outside quotes, so each pass has work to do
_PLAIN = (
    "strpos(s, 'a')",
    "list_sum(arr)",
    "j->'k'->>'m'",
    "transform(xs, lambda x: x + 1)",
    "epoch_ns(ts)",
)


@given(
    st.lists(st.one_of(_quoted, st.sampled_from(_PLAIN)), min_size=1, max_size=4),
    st.lists(_quoted, max_size=2),
    st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_rewrites_keep_quoted_text(items, conds, qualify):
    """Whatever a quoted span holds, the engine's rewrites keep it
    verbatim: string literals, double-quoted strings (literals in Spark's
    default mode) and backtick identifiers alike."""
    where = " AND ".join(
        ["time >= '2024-01-01T00:00:00Z'"] + [f"s = {c}" for c in conds]
    )
    sql = (
        "SELECT " + ", ".join(f"{e} AS c{i}" for i, e in enumerate(items))
        + f" FROM mydb.weather WHERE {where} AND s SIMILAR TO 'b' USING SAMPLE 5%"
        + (" QUALIFY row_number() OVER (PARTITION BY s ORDER BY time) = 1" if qualify else "")
    )
    out = to_spark_sql(
        rewrite_qualify_all(rewrite_time_literals(strip_db_qualifier(sql, "mydb", "weather")))
    )
    spans = [e for e in items if e not in _PLAIN] + conds
    for span in set(spans):
        assert out.count(span) >= spans.count(span), (span, sql, out)


# --- pruning soundness -------------------------------------------------------
# A WHERE clause is a tree of time comparisons and opaque leaves joined by
# AND/OR/NOT, parentheses and CASE WHEN. Each node is (sql, precedence,
# value(t, env)), valued in SQL's three-valued logic (None is NULL), and
# rendered with only the parentheses SQL precedence needs (OR < AND < NOT
# < predicate), so the text means what the tree says.

_T0 = 1_704_067_200 * NS  # 2024-01-01T00:00:00Z
_INSTANTS = [_T0 + h * 3600 * NS + d for h in range(3) for d in (-1, 0, 1)]
_OPAQUE = ("x = 1", "y = 2", "z = 3")
_CMP = {
    ">=": operator.ge,
    ">": operator.gt,
    "<=": operator.le,
    "<": operator.lt,
    "=": operator.eq,
}


def _iso(ns: int) -> str:
    sec = datetime.fromtimestamp(ns // NS, tz=timezone.utc)
    return sec.strftime("%Y-%m-%dT%H:%M:%S") + f".{ns % NS:09d}Z"


#: the reference's four literal wrappers, and a bare ns integer
_WRAPS = (
    lambda ns: f"'{_iso(ns)}'",
    lambda ns: f"cast('{_iso(ns)}' as timestamp)",
    lambda ns: f"epoch_ns('{_iso(ns)}'::TIMESTAMP)",
    lambda ns: f"epoch_ns(cast('{_iso(ns)}' as timestamp)::TIMESTAMP)",
    str,
)
_instant = st.sampled_from(_INSTANTS)
_wrap = st.sampled_from(_WRAPS)


def _cmp_leaf(op, v, wrap):
    return (f"time {op} {wrap(v)}", 4, lambda t, env: _CMP[op](t, v))


def _between_leaf(a, b, wrap_a, wrap_b):
    return (
        f"time BETWEEN {wrap_a(a)} AND {wrap_b(b)}",
        4,
        lambda t, env: a <= t <= b,
    )


def _opaque_leaf(name):
    return (name, 4, lambda t, env: env[name])


def _at(node, prec):
    return node[0] if node[1] >= prec else f"({node[0]})"


def _and(a, b):
    def value(t, env):
        va, vb = a[2](t, env), b[2](t, env)
        if va is False or vb is False:
            return False
        return None if va is None or vb is None else True

    return (f"{_at(a, 2)} AND {_at(b, 2)}", 2, value)


def _or(a, b):
    def value(t, env):
        va, vb = a[2](t, env), b[2](t, env)
        if va is True or vb is True:
            return True
        return None if va is None or vb is None else False

    return (f"{_at(a, 1)} OR {_at(b, 1)}", 1, value)


def _not(a):
    def value(t, env):
        v = a[2](t, env)
        return None if v is None else not v

    return (f"NOT {_at(a, 3)}", 3, value)


def _case(c, a, b):
    return (
        f"CASE WHEN {c[0]} THEN {a[0]} ELSE {b[0]} END",
        4,
        lambda t, env: a[2](t, env) if c[2](t, env) is True else b[2](t, env),
    )


_leaf = st.one_of(
    st.builds(_cmp_leaf, st.sampled_from(sorted(_CMP)), _instant, _wrap),
    st.builds(_between_leaf, _instant, _instant, _wrap, _wrap),
    st.builds(_opaque_leaf, st.sampled_from(_OPAQUE)),
)


def _conjunction(parts):
    return functools.reduce(_and, parts)


_tree = st.recursive(
    _leaf,
    lambda kids: st.one_of(
        st.lists(kids, min_size=2, max_size=3).map(_conjunction),
        st.builds(_or, kids, kids),
        st.builds(_not, kids),
        kids.map(lambda a: (f"({a[0]})", 4, a[2])),
        st.builds(
            _case, st.lists(kids, min_size=1, max_size=3).map(_conjunction), kids, kids
        ),
    ),
    max_leaves=8,
)

#: a top-level conjunction, the shape bounds come from
_clause = st.lists(st.one_of(_leaf, _tree), min_size=1, max_size=4).map(_conjunction)
#: every instant where a clause's value can change, and beyond the ends
_PROBES = sorted({v + d for v in _INSTANTS for d in (-1, 0, 1)} | {0, 2 * _T0})
_ENVS = [
    dict(zip(_OPAQUE, vals)) for vals in itertools.product((True, False, None), repeat=3)
]


@given(_clause)
@settings(max_examples=300, deadline=None)
def test_pruning_is_sound(clause):
    """No row whose ``time`` lies outside the extracted range can satisfy
    the clause, whatever its other predicates are: pruning the files of
    such rows never changes the result."""
    sql, _, value = clause
    for tr in (
        extract_time_range(sql),
        parse_query(f"SELECT * FROM t WHERE {sql} ORDER BY time", "db").time_range,
    ):
        for t in _PROBES:
            if (tr.start is None or t >= tr.start) and (tr.end is None or t <= tr.end):
                continue
            for env in _ENVS:
                assert value(t, env) is not True, (sql, tr, t, env)


@given(_clause)
@settings(max_examples=300, deadline=None)
def test_dropping_time_conjuncts_keeps_rows_in_range(clause):
    """Inside the extracted range, the statement with its top-level
    ``time`` conjuncts replaced by TRUE selects exactly the rows the
    clause is TRUE on, for every TRUE/FALSE/NULL assignment of the opaque
    leaves (evaluated by DuckDB)."""
    import duckdb
    import pyarrow as pa

    sql, _, value = clause
    stmt = rewrite_time_literals(f"SELECT rid FROM rows WHERE {sql} ORDER BY rid")
    tr = parse_query(stmt, "db").time_range
    inside = [
        t
        for t in _PROBES
        if (tr.start is None or t >= tr.start) and (tr.end is None or t <= tr.end)
    ]
    grid = [(t, env) for t in inside for env in _ENVS]
    # leaf "x = 1" is TRUE at x = 1, FALSE at 0 and NULL at NULL
    cols = {
        leaf[0]: pa.array(
            [{True: int(leaf[-1]), False: 0, None: None}[env[leaf]] for _, env in grid],
            pa.int64(),
        )
        for leaf in _OPAQUE
    }
    rows = pa.table(
        {"rid": list(range(len(grid))), "time": [t for t, _ in grid], **cols}
    )
    expect = [i for i, (t, env) in enumerate(grid) if value(t, env) is True]
    con = duckdb.connect()
    # DuckDB 1.0's expression rewriter fails an internal assertion on an OR
    # of two identical conjunctions; the statement means the same without it
    con.execute("SET disabled_optimizers = 'expression_rewriter'")
    con.register("rows", rows)
    for text in (stmt, drop_time_conjuncts(stmt)):
        got = con.execute(_LITERAL.sub(_literal_ns, text)).fetchall()
        assert [r for (r,) in got] == expect, (sql, text)


#: a wrapped literal ``rewrite_time_literals`` left (one side of a BETWEEN
#: whose other side is a bare integer), folded here so DuckDB can compare
_LITERAL = re.compile(
    r"epoch_ns\(cast\('([^']+)' as timestamp\)::TIMESTAMP\)"
    r"|epoch_ns\('([^']+)'::TIMESTAMP\)|cast\('([^']+)' as timestamp\)|'([^']+)'"
)


def _literal_ns(m: re.Match) -> str:
    return str(parse_time_literal_ns(next(g for g in m.groups() if g)))
