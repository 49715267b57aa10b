"""Light SQL pre-pass — the engine-side counterpart of the reference's
regex parser (ParseQuery, querier/queryClient.go:87-182) and time-range
extractor (extractTimeRange, :185-337).

Spark SQL parses the query fully at execution time; this pass only needs
the pieces the *engine* acts on before execution:

- the target ``db.table`` (to resolve + prune parquet files and bind a
  temp view),
- the ``time`` bounds (to prune files against the catalog's
  [min_time, max_time] index),
- clause text (SELECT list / WHERE / GROUP BY / HAVING / ORDER BY / LIMIT)
  for parity with the reference's ParsedQuery shape.

Divergences from the reference (documented; all strictly-saner):
- one-sided time ranges are extracted and *do* prune (the reference
  requires both bounds — queryClient.go:370, :380-381);
- ``>``/``<`` vs ``>=``/``<=`` is preserved in the bounds used for
  pruning (pruning by overlap is inclusive either way, so this only
  matters for the echoed TimeCondition);
- ``time`` comparisons against timestamp literals fold to int64-ns
  literals (``rewrite_time_literals``) instead of ``epoch_ns`` string
  splices.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone

NS_PER_S = 1_000_000_000

# --- timestamp literal parsing (reference: RFC3339Nano, then
# "2006-01-02T15:04:05"; queryClient.go:243-249 etc.) -----------------------

_RFC3339 = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2}):(\d{2})"
    r"(?:\.(\d{1,9}))?"
    r"(Z|[+-]\d{2}:\d{2})?$"
)


def parse_time_literal_ns(literal: str) -> int | None:
    """Parse an RFC3339(Nano) or ``YYYY-MM-DDTHH:MM:SS`` literal to epoch
    nanoseconds (UTC assumed when no offset, matching Go's
    ``2006-01-02T15:04:05`` layout parse). Returns None if unparseable."""
    m = _RFC3339.match(literal.strip())
    if not m:
        # Date-only form: treat as midnight UTC (convenience; the
        # reference rejects it and falls through).
        dm = re.match(r"^(\d{4})-(\d{2})-(\d{2})$", literal.strip())
        if not dm:
            return None
        y, mo, d = (int(g) for g in dm.groups())
        try:
            dt = datetime(y, mo, d, tzinfo=timezone.utc)
        except ValueError:
            return None
        return int(dt.timestamp()) * NS_PER_S
    y, mo, d, hh, mm, ss = (int(g) for g in m.groups()[:6])
    frac = m.group(7) or ""
    off = m.group(8)
    ns = int(frac.ljust(9, "0")) if frac else 0
    try:
        dt = datetime(y, mo, d, hh, mm, ss, tzinfo=timezone.utc)
    except ValueError:
        return None
    base = int(dt.timestamp())
    if off and off != "Z":
        sign = 1 if off[0] == "+" else -1
        oh, om = int(off[1:3]), int(off[4:6])
        base -= sign * (oh * 3600 + om * 60)
    return base * NS_PER_S + ns


# --- time-range extraction --------------------------------------------------

#: The four literal wrappers the reference recognizes
#: (querier/queryClient.go:199-218): plain '<lit>', cast('<lit>' as
#: timestamp), epoch_ns('<lit>'[::TIMESTAMP]), epoch_ns(cast('<lit>' as
#: timestamp)[::TIMESTAMP]).
_LIT = r"'([^']+)'"

#: ``time`` must be a standalone identifier: reject a preceding word char,
#: ``.`` (qualified columns like ``events.time`` are left untouched — a
#: rewrite would drop the qualifier) or ``"`` (quoted identifiers). The
#: reference's own regexes lack this boundary (Go regexp has no lookbehind;
#: querier/queryClient.go:199-218) so ``endtime >= '...'`` matches there —
#: a bug class we deliberately do NOT reproduce.
_TIME_IDENT = r"(?<![\w.\"])time"

_WRAPPERS = (
    # plain literal, optionally PG-cast: '...' or '...'::TIMESTAMP
    _LIT + r"(?:::TIMESTAMP)?",
    rf"cast\s*\(\s*{_LIT}\s+as\s+timestamp\s*\)",
    rf"epoch_ns\s*\(\s*{_LIT}(?:::TIMESTAMP)?\s*\)",
    rf"epoch_ns\s*\(\s*cast\s*\(\s*{_LIT}\s+as\s+timestamp\s*\)(?:::TIMESTAMP)?\s*\)",
)


@dataclass
class TimeRange:
    """Extracted time bounds in epoch ns (reference: TimeRange,
    querier/queryClient.go:80-84)."""

    start: int | None = None
    end: int | None = None
    time_condition: str = ""

    @property
    def is_empty(self) -> bool:
        return self.start is None and self.end is None


def _mask_literals(sql: str) -> str:
    """Blank out single-quoted literal contents (keeps positions valid
    for scans that must not match inside strings)."""
    return re.sub(r"'(?:[^']|'')*'", "''", sql)


def _has_top_level_disjunction(where_clause: str) -> bool:
    """True when the WHERE clause has a top-level ``OR`` or ``NOT``
    (outside parentheses and single-quoted literals). A time predicate
    that is not a top-level AND-conjunct must NOT drive file pruning:
    ``WHERE time >= X OR other_cond`` still admits rows from older files
    via ``other_cond``. (The reference prunes only with both bounds but
    shares this blind spot; we skip pruning instead.)"""
    depth = 0
    in_str = False
    i, n = 0, len(where_clause)
    while i < n:
        ch = where_clause[i]
        if in_str:
            if ch == "'":
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "oOnN":
            tail = where_clause[i:]
            if re.match(r"(?i)or(?:\s|\()", tail) or re.match(
                r"(?i)not(?:\s|\()", tail
            ):
                # word-start check: previous char must not be part of an
                # identifier (e.g. the 'or' in 'priority')
                if i == 0 or not (where_clause[i - 1].isalnum() or where_clause[i - 1] in "_."):
                    # 'IS NOT' (NULL / DISTINCT FROM) is a single
                    # operator, not a negation scope — `sensor IS NOT
                    # NULL` must not disable time pruning (ADVICE r2)
                    if ch in "nN" and re.search(
                        r"(?i)\bIS\s*$", where_clause[:i]
                    ):
                        i += 1
                        continue
                    return True
        i += 1
    return False


def extract_time_range(where_clause: str) -> TimeRange:
    """Extract ``[start_ns, end_ns]`` from a WHERE clause.

    Recognizes ``time (>=|>|<=|<|=|BETWEEN)`` against the four literal
    wrappers — the same 16 shapes as the reference, in one pass.
    ``time`` must be a standalone identifier (``endtime``/``events.time``
    never match), and extraction is skipped entirely when the clause has a
    top-level OR/NOT — in both cases pruning on the extracted bound would
    be unsound.
    """
    tr = TimeRange()
    if not where_clause:
        return tr
    if _has_top_level_disjunction(where_clause):
        return tr
    # A subquery inside the clause may contain its OWN `time` predicate
    # (EXISTS/IN against another relation); regex extraction can't scope
    # it to the right table, so pruning on it would be unsound — skip
    # extraction entirely (safe direction: full scan, correct rows).
    if re.search(r"\(\s*SELECT\b", _mask_literals(where_clause), re.IGNORECASE):
        return tr

    start_ns: int | None = None
    end_ns: int | None = None
    start_op = ">="
    end_op = "<="

    for wrapper in _WRAPPERS:
        # BETWEEN <w> AND <w>
        for m in re.finditer(
            rf"{_TIME_IDENT}\s+BETWEEN\s+{wrapper}\s+AND\s+{wrapper}",
            where_clause,
            re.IGNORECASE,
        ):
            s = parse_time_literal_ns(m.group(1))
            e = parse_time_literal_ns(m.group(2))
            if s is not None and e is not None:
                start_ns, end_ns = s, e
                start_op, end_op = ">=", "<="
        # time = <w>
        for m in re.finditer(
            rf"{_TIME_IDENT}\s*=\s*{wrapper}", where_clause, re.IGNORECASE
        ):
            v = parse_time_literal_ns(m.group(1))
            if v is not None:
                start_ns = end_ns = v
                start_op, end_op = ">=", "<="
        # time >=/>/<=/< <w>
        for m in re.finditer(
            rf"{_TIME_IDENT}\s*(>=|>|<=|<)\s*{wrapper}", where_clause, re.IGNORECASE
        ):
            v = parse_time_literal_ns(m.group(2))
            if v is None:
                continue
            op = m.group(1)
            if op in (">=", ">"):
                start_ns, start_op = v, op
            else:
                end_ns, end_op = v, op

    def _fmt(ns: int) -> str:
        dt = datetime.fromtimestamp(ns // NS_PER_S, tz=timezone.utc)
        return dt.strftime("%Y-%m-%dT%H:%M:%SZ")

    conds = []
    if start_ns is not None:
        tr.start = start_ns
        conds.append(f"time {start_op} epoch_ns('{_fmt(start_ns)}'::TIMESTAMP)")
    if end_ns is not None:
        tr.end = end_ns
        conds.append(f"time {end_op} epoch_ns('{_fmt(end_ns)}'::TIMESTAMP)")
    tr.time_condition = " AND ".join(conds)
    return tr


# --- query parsing -----------------------------------------------------------


@dataclass
class ParsedQuery:
    """Reference ParsedQuery shape (querier/queryClient.go:67-77)."""

    columns: str = "*"
    db_name: str = ""
    measurement: str = ""
    time_range: TimeRange = field(default_factory=TimeRange)
    where_conditions: str = ""
    order_by: str = ""
    group_by: str = ""
    having: str = ""
    limit: int = 0


class ParseError(ValueError):
    """Raised when the light pre-pass can't find a single FROM target —
    the engine then falls back to executing the SQL verbatim
    (reference: querier/queryClient.go:768-815)."""


def normalize(sql: str) -> str:
    return re.sub(r"\s+", " ", sql.replace("\n", " ").replace("\r", " ")).strip()


def parse_query(sql: str, db_name: str = "") -> ParsedQuery:
    """Extract table + clauses (reference semantics, queryClient.go:87-182)."""
    sql = normalize(sql)

    cols_m = re.search(r"SELECT\s+(.*?)\s+FROM", sql, re.IGNORECASE)
    columns = cols_m.group(1).strip() if cols_m else "*"

    from_m = re.search(r"FROM\s+(?:(\w+)\.)?(\w+)", sql, re.IGNORECASE)
    if not from_m:
        raise ParseError("invalid query: FROM clause not found or invalid")
    if from_m.group(1):
        db_name = from_m.group(1)
    measurement = from_m.group(2)

    where_clause = ""
    parts = re.split(r"\sWHERE\s", sql, maxsplit=1, flags=re.IGNORECASE)
    if len(parts) == 2:
        where_clause = parts[1]
        upper = where_clause.upper()
        cut = len(where_clause)
        for clause in (" GROUP BY ", " ORDER BY ", " LIMIT ", " HAVING "):
            idx = upper.find(clause)
            if idx != -1:
                cut = min(cut, idx)
        where_clause = where_clause[:cut]

    def _clause(pattern: str) -> str:
        m = re.search(pattern, sql, re.IGNORECASE)
        return m.group(1).strip() if m else ""

    order_by = _clause(r"ORDER\s+BY\s+(.*?)(?:\s+(?:LIMIT|GROUP|HAVING)\s|$)")
    group_by = _clause(r"GROUP\s+BY\s+(.*?)(?:\s+(?:ORDER|LIMIT|HAVING)\s|$)")
    having = _clause(r"HAVING\s+(.*?)(?:\s+(?:ORDER|LIMIT)\s|$)")
    limit_m = re.search(r"LIMIT\s+(\d+)", sql, re.IGNORECASE)
    limit = int(limit_m.group(1)) if limit_m else 0

    return ParsedQuery(
        columns=columns,
        db_name=db_name,
        measurement=measurement,
        time_range=extract_time_range(where_clause),
        where_conditions=where_clause,
        order_by=order_by,
        group_by=group_by,
        having=having,
        limit=limit,
    )


# --- timestamp-literal normalization (A10) -----------------------------------
# The reference rewrites `time <op> cast('lit' as timestamp)` to
# `time <op> epoch_ns('lit'::TIMESTAMP)` so comparisons hit the int64-ns
# column (querier/queryClient.go:848-850). Here every recognized literal
# wrapper is folded straight to the ns integer — uniform, dialect-free,
# and constant for Catalyst.


def rewrite_time_literals(sql: str) -> str:
    """Fold ``time <op> <timestamp literal>`` comparisons (all four
    wrappers + BETWEEN) into int64-ns literals."""

    def _fold(lit: str) -> str | None:
        ns = parse_time_literal_ns(lit)
        return None if ns is None else str(ns)

    for wrapper in _WRAPPERS:

        def _sub_between(m: re.Match) -> str:
            a, b = _fold(m.group(1)), _fold(m.group(2))
            return m.group(0) if a is None or b is None else f"time BETWEEN {a} AND {b}"

        sql = re.sub(
            rf"{_TIME_IDENT}\s+BETWEEN\s+{wrapper}\s+AND\s+{wrapper}",
            _sub_between,
            sql,
            flags=re.IGNORECASE,
        )

        def _sub_cmp(m: re.Match) -> str:
            v = _fold(m.group(2))
            return m.group(0) if v is None else f"time {m.group(1)} {v}"

        sql = re.sub(
            rf"{_TIME_IDENT}\s*(>=|>|<=|<|=)\s*{wrapper}",
            _sub_cmp,
            sql,
            flags=re.IGNORECASE,
        )
    return sql


# --- DuckDB → Spark dialect shim ---------------------------------------------

#: DuckDB list_/aggregate function names → Spark equivalents (same arity &
#: argument order; applied only when followed by ``(`` and outside string
#: literals). The reference accepts the full DuckDB dialect on its
#: passthrough path (querier/queryClient.go:778-815); these cover the
#: functions reference-README-style queries actually use.
_FN_ALIASES = {
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "list_distinct": "array_distinct",
    "list_min": "array_min",
    "list_max": "array_max",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "list_sort": "sort_array",
    "list_concat": "concat",
    "list_cat": "concat",
    "list_transform": "transform",
    "list_filter": "filter",
    "list_reduce": "reduce",
    "list_value": "array",
    "list_pack": "array",
    "array_to_string": "array_join",
    "string_split": "split",
    "str_split": "split",
    "string_to_array": "split",
    "string_split_regex": "split",
    "str_split_regex": "split",
    "regexp_matches": "rlike",
    "strpos": "instr",
    "list_reverse": "reverse",
    "to_hex": "hex",
    "from_hex": "unhex",
}

_FN_ALIAS_RE = re.compile(
    r"\b(" + "|".join(sorted(_FN_ALIASES, key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE,
)

#: ``expr -> 'k' ->> 'k2'`` JSON extraction chains on an identifier →
#: one get_json_object with the full path. Integer operands index arrays.
_JSON_ARROW = re.compile(
    r"([A-Za-z_][\w.]*)((?:\s*->>?\s*(?:'[^']+'|\d+))+)"
)
_JSON_STEP = re.compile(r"->>?\s*(?:'([^']+)'|(\d+))")

_USING_SAMPLE = re.compile(
    r"\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(%|PERCENT|ROWS)?", re.IGNORECASE
)

#: DuckDB's python-style lambda keyword: ``lambda x, y: body`` → the
#: arrow form both engines accept. The body needs no terminator —
#: exactly like ``->``, it extends to the enclosing paren/comma.
_LAMBDA_KW = re.compile(
    r"\blambda\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*:", re.IGNORECASE
)


def _rewrite_lambda_kw(sql: str) -> str:
    def repl(m: re.Match) -> str:
        params = [p.strip() for p in m.group(1).split(",")]
        if len(params) == 1:
            return f"{params[0]} ->"
        return "(" + ", ".join(params) + ") ->"

    return _LAMBDA_KW.sub(repl, sql)

_SIMILAR_TO = re.compile(r"\bSIMILAR\s+TO\s+'([^']*)'", re.IGNORECASE)

#: DuckDB star modifier: SELECT * EXCLUDE (a, b) → Spark * EXCEPT (a, b)
_STAR_EXCLUDE = re.compile(r"(\*\s+)EXCLUDE(\s*\()", re.IGNORECASE)

#: DuckDB polymorphic list aggregates that need an argument wrap (balanced-
#: paren extraction): list_sum(x) → aggregate(x, 0.0D, fold).
_LIST_SUM = re.compile(r"\b(list_sum|list_avg|list_count)\s*\(", re.IGNORECASE)


def _outside_quotes(sql: str, fn) -> str:
    """Apply ``fn`` to the segments of ``sql`` outside single-quoted
    literals (with '' escapes), leaving literal contents untouched."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i in range(0, len(parts), 2):
        parts[i] = fn(parts[i])
    return "".join(parts)


#: Spark/DuckDB higher-order functions whose last argument is a lambda —
#: `transform(xs, x -> 0)` must NOT be read as JSON extraction on `x`.
_HOF_FNS = frozenset(
    {
        "transform",
        "filter",
        "aggregate",
        "reduce",
        "exists",
        "forall",
        "any_match",
        "zip_with",
        "array_sort",
        "map_filter",
        "map_zip_with",
        "transform_keys",
        "transform_values",
        "list_transform",
        "list_filter",
        "list_reduce",
        "list_aggregate",
    }
)


def _in_lambda_position(sql: str, start: int) -> bool:
    """True when the identifier at ``start`` sits directly after ``(`` or
    ``,`` of a higher-order function call — i.e. it is a lambda
    parameter, not a JSON column (ADVICE r2)."""
    j = start - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0 or sql[j] not in "(,":
        return False
    # find the innermost unmatched '(' before the identifier, then the
    # function name in front of it
    bal = 0
    k = start - 1
    while k >= 0:
        ch = sql[k]
        if ch == ")":
            bal += 1
        elif ch == "(":
            if bal == 0:
                break
            bal -= 1
        k -= 1
    if k <= 0:
        return False
    e = k - 1
    while e >= 0 and sql[e].isspace():
        e -= 1
    s = e
    while s >= 0 and (sql[s].isalnum() or sql[s] == "_"):
        s -= 1
    return sql[s + 1 : e + 1].lower() in _HOF_FNS


def _rewrite_json_arrows(sql: str) -> str:
    def repl(m: re.Match) -> str:
        base = m.group(1)
        if base.upper() in ("AND", "OR", "NOT", "WHERE", "ON", "THEN", "ELSE"):
            return m.group(0)
        steps = list(_JSON_STEP.finditer(m.group(2)))
        # a single plain-arrow step with an INTEGER operand is far more
        # likely a lambda body (`x -> 0`) than JSON array indexing — the
        # ->> form still covers the extraction use; leave the text alone
        # so a genuine lambda stays valid (ADVICE r2)
        if (
            len(steps) == 1
            and steps[0].group(2) is not None
            and "->>" not in m.group(2)
        ):
            return m.group(0)
        # bare identifier in lambda-parameter position of a HOF call
        if "." not in base and _in_lambda_position(sql, m.start()):
            return m.group(0)
        path = ""
        for step in steps:
            key, idx = step.group(1), step.group(2)
            path += f".{key}" if key is not None else f"[{idx}]"
        return f"get_json_object({base}, '${path}')"

    return _JSON_ARROW.sub(repl, sql)


def _balanced_arg(sql: str, start: int) -> int | None:
    """Index just past the ``)`` closing the paren at ``start`` (which must
    point at '('), honoring nesting and quoted strings."""
    depth = 0
    i = start
    while i < len(sql):
        ch = sql[i]
        if ch == "'":
            i += 1
            while i < len(sql) and sql[i] != "'":
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return None


def _quoted_spans(sql: str) -> list[tuple[int, int]]:
    return [m.span() for m in re.finditer(r"'(?:[^']|'')*'", sql)]


def _fold_sum(arg: str) -> str:
    """NULL-correct array sum fold (DuckDB list_sum/list_aggregate 'sum'):
    NULL elements are ignored; an empty or all-NULL array yields NULL
    (ADVICE r3 — a plain fold propagated element NULLs and returned 0.0
    for empty). NULL init + coalesce-on-accumulate gets both in one pass."""
    nn = f"filter({arg}, _e -> _e IS NOT NULL)"
    return (
        f"aggregate({nn}, CAST(NULL AS DOUBLE),"
        f" (_acc, _e) -> coalesce(_acc, CAST(0 AS DOUBLE)) + _e)"
    )


def _fold_avg(arg: str) -> str:
    """DuckDB-style list avg: sum of non-NULLs / count of non-NULLs
    (not array size — ADVICE r3); nullif keeps the empty case NULL
    without tripping ANSI division-by-zero."""
    nn_size = f"size(filter({arg}, _e -> _e IS NOT NULL))"
    return f"{_fold_sum(arg)} / nullif({nn_size}, 0)"


def _rewrite_list_aggs(sql: str) -> str:
    """``list_sum/list_avg/list_count(x)`` → higher-order ``aggregate``
    folds (Spark has no array-sum builtin). Runs over the full string —
    the argument may contain quoted literals — but skips matches that
    start inside one."""
    spans = _quoted_spans(sql)
    out = []
    pos = 0
    while True:
        m = _LIST_SUM.search(sql, pos)
        while m and any(a <= m.start() < b for a, b in spans):
            m = _LIST_SUM.search(sql, m.end())
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        end = _balanced_arg(sql, m.end() - 1)
        if end is None:
            out.append(sql[pos:])
            return "".join(out)
        arg = sql[m.end() : end - 1]
        fn = m.group(1).lower()
        if fn == "list_sum":
            expr = _fold_sum(arg)
        elif fn == "list_avg":
            expr = _fold_avg(arg)
        else:  # list_count: non-null elements
            expr = f"size(filter({arg}, _e -> _e IS NOT NULL))"
        out.append(sql[pos : m.start()])
        out.append(expr)
        pos = end


def _split_top_args(argstr: str) -> list[str]:
    """Split a function's argument string on TOP-LEVEL commas (honoring
    nested parens and quoted literals)."""
    args: list[str] = []
    depth = 0
    cur_start = 0
    i, n = 0, len(argstr)
    while i < n:
        ch = argstr[i]
        if ch == "'":
            i += 1
            while i < n and argstr[i] != "'":
                i += 1
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(argstr[cur_start:i].strip())
            cur_start = i + 1
        i += 1
    args.append(argstr[cur_start:].strip())
    return args


#: DuckDB functions whose Spark equivalent needs an ARGUMENT transform,
#: not just a rename. Handled by _rewrite_arg_transforms with full
#: balanced-paren extraction (args may be nested calls or quoted
#: literals). Unrecognized arities are left untouched → Spark fails
#: loudly instead of silently returning wrong rows (ADVICE r2).
_ARG_XFORM = re.compile(
    r"\b(str_split|string_split|string_to_array|string_split_regex"
    r"|str_split_regex|list_slice|list_position|list_indexof"
    r"|struct_pack|list_aggregate|list_aggr)\s*\(",
    re.IGNORECASE,
)

#: struct_pack named argument: name := expr
_NAMED_ARG = re.compile(r"^([A-Za-z_]\w*)\s*:=\s*(.+)$", re.DOTALL)

#: list_aggregate's function-name argument → Spark array equivalents.
#: Callables (not str.format templates — braces in the argument, e.g.
#: struct literals, would abort a format; ADVICE r3). sum/avg share the
#: NULL-correct folds above.
_LIST_AGGR_FNS: dict[str, Callable[[str], str]] = {
    "'sum'": _fold_sum,
    "'min'": lambda a: f"array_min({a})",
    "'max'": lambda a: f"array_max({a})",
    "'count'": lambda a: f"size(filter({a}, _e -> _e IS NOT NULL))",
    "'avg'": _fold_avg,
}

_PLAIN_LIT = re.compile(r"^'([^']*)'$")


def _rewrite_arg_transforms(sql: str) -> str:
    """Semantics-preserving rewrites that must touch arguments:

    - ``str_split(x, '<lit>')`` → ``split(x, '<escaped>')``. DuckDB's
      delimiter is a LITERAL; Spark's is a REGEX. Metachars are
      re.escape()d and backslashes doubled for the SQL string-literal
      layer (Spark drops the backslash of unrecognized escapes, so a
      single ``\\.`` would reach the regex engine as ``.`` — ADVICE r2).
    - ``list_slice(l, b, e)`` (inclusive end) → ``slice(l, b, e-b+1)``
      (length). DuckDB 1.0 semantics; mixed-sign b/e unsupported → wrong
      only where DuckDB itself is surprising.
    - ``list_position/list_indexof(l, v)`` → ``nullif(array_position(l,
      v), 0)`` — DuckDB returns NULL on a miss, Spark returns 0.
    """
    spans = _quoted_spans(sql)
    out = []
    pos = 0
    while True:
        m = _ARG_XFORM.search(sql, pos)
        while m and any(a <= m.start() < b for a, b in spans):
            m = _ARG_XFORM.search(sql, m.end())
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        end = _balanced_arg(sql, m.end() - 1)
        if end is None:
            out.append(sql[pos:])
            return "".join(out)
        fn = m.group(1).lower()
        args = _split_top_args(sql[m.end() : end - 1])
        repl = None
        if fn in ("str_split", "string_split", "string_to_array") and len(args) == 2:
            lit = _PLAIN_LIT.match(args[1])
            if lit:
                delim = re.escape(lit.group(1)).replace("\\", "\\\\")
                repl = f"split({args[0]}, '{delim}')"
            else:
                # Non-literal delimiter: DuckDB splits on the VALUE, Spark
                # split() treats it as a regex — backslash-escape every
                # non-word character of the runtime value so it matches
                # literally (Java regex reads a backslash before any
                # non-alphabetic character as that character; a \Q…\E
                # wrapper broke on values containing \E). The SQL string
                # layer eats one backslash, hence the doubles.
                repl = (
                    f"split({args[0]}, "
                    f"regexp_replace({args[1]}, '(\\\\W)', '\\\\\\\\$1'))"
                )
        elif fn in ("string_split_regex", "str_split_regex") and len(args) == 2:
            repl = f"split({args[0]}, {args[1]})"
        elif fn == "list_slice" and len(args) == 3:
            b, e = args[1], args[2]
            repl = f"slice({args[0]}, {b}, ({e}) - ({b}) + 1)"
        elif fn in ("list_position", "list_indexof") and len(args) == 2:
            repl = f"nullif(array_position({args[0]}, {args[1]}), 0)"
        elif fn == "struct_pack":
            # struct_pack(a := 1, b := x) → named_struct('a', 1, 'b', x)
            named = [_NAMED_ARG.match(a) for a in args]
            if all(named):
                inner = ", ".join(
                    f"'{m.group(1)}', {m.group(2).strip()}" for m in named
                )
                repl = f"named_struct({inner})"
        elif fn in ("list_aggregate", "list_aggr") and len(args) == 2:
            template = _LIST_AGGR_FNS.get(args[1].lower())
            if template:
                repl = template(args[0])
        if repl is None:
            out.append(sql[pos : end])
        else:
            out.append(sql[pos : m.start()])
            out.append(repl)
        pos = end


def to_spark_sql(sql: str) -> str:
    """Rewrite the DuckDB-isms the reference's own API surface accepts so
    Spark SQL parses them (the reference passes the full DuckDB dialect to
    its embedded engine, queryClient.go:778-815; ``x::TYPE`` needs none):

    - ``x -> 'a' ->> 'b'``      → ``get_json_object(x, '$.a.b')``
    - ``list_*``/``str_split``/… → Spark array/string equivalents
    - ``list_sum/avg/count(x)`` → higher-order ``aggregate`` folds
    - ``USING SAMPLE n% | n ROWS`` → ``TABLESAMPLE (…)``
    - ``SIMILAR TO 'pat'``      → anchored ``RLIKE``
    - ``epoch_ns/epoch_ms/epoch_us/epoch_s`` stay — registered as session
      SQL functions (session.py).
    """
    sql = _rewrite_json_arrows(sql)
    sql = _outside_quotes(sql, _rewrite_lambda_kw)
    sql = _rewrite_arg_transforms(sql)
    sql = _rewrite_list_aggs(sql)
    sql = _outside_quotes(
        sql,
        lambda s: _FN_ALIAS_RE.sub(
            lambda m: _FN_ALIASES[m.group(1).lower()] + "(", s
        ),
    )
    sql = _outside_quotes(
        sql,
        lambda s: _USING_SAMPLE.sub(
            lambda m: f"TABLESAMPLE ({m.group(1)} "
            + ("ROWS" if (m.group(2) or "").upper() == "ROWS" else "PERCENT")
            + ")",
            s,
        ),
    )
    sql = _SIMILAR_TO.sub(lambda m: f"RLIKE '^(?:{m.group(1)})$'", sql)
    sql = _outside_quotes(sql, lambda s: _STAR_EXCLUDE.sub(r"\1EXCEPT\2", s))
    return sql


#: synthetic column the QUALIFY rewrite adds; the engine drops it after
#: execution (engine.py).
QUALIFY_COL = "__qualify__"

_QUALIFY_KW = re.compile(r"\sQUALIFY\s", re.IGNORECASE)
_TAIL_KW = re.compile(r"\s(ORDER\s+BY|LIMIT)\s", re.IGNORECASE)


def _split_top_level_tail(s: str) -> tuple[str, str]:
    """Split off a trailing ORDER BY / LIMIT that sits OUTSIDE any
    parentheses (an ORDER BY inside an OVER(...) must stay put)."""
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = _TAIL_KW.match(s, i)
            if m:
                return s[:i], s[i:]
    return s, ""


_FROM_KW = re.compile(r"\sFROM\s", re.IGNORECASE)


def rewrite_qualify(sql: str) -> str:
    """DuckDB ``QUALIFY <pred>`` → standard SQL Spark parses.

    The predicate is appended to the query's own select list (so it can
    reference any column of the source relation, projected or not), and
    filtered one level up:

        SELECT <sel>, (<pred>) AS __qualify__ FROM <rest>
        → SELECT * FROM ( ... ) WHERE __qualify__ [ORDER BY|LIMIT tail]

    The engine drops ``__qualify__`` from the result. Top-level QUALIFY
    only; QUALIFY on a SELECT DISTINCT changes the distinct key —
    documented limitations.
    """
    return _qualify_one(normalize(sql), drop=False)


def _depth0_qualify(sql: str) -> "re.Match | None":
    """First `` QUALIFY `` at paren-depth 0 outside quoted literals."""
    depth = 0
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = _QUALIFY_KW.match(sql, i)
            if m:
                return m
        i += 1
    return None


def _qualify_one(sql: str, drop: bool) -> str:
    """Rewrite THIS query level's QUALIFY. ``drop=True`` excludes the
    helper column in the rewritten text (``SELECT * EXCEPT``) — needed
    when the query is a subquery whose schema must not grow; the
    top-level form leaves it for the engine to drop post-execution
    (pre-Spark-3.4 EXCEPT-free compatibility)."""
    m = _depth0_qualify(sql)
    if not m:
        return sql
    body = sql[: m.start()]
    pred, tail = _split_top_level_tail(sql[m.end() :])
    fm = None
    depth = 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and fm is None:
            mm = _FROM_KW.match(body, i)
            if mm:
                fm = i
                break
    if fm is None:
        return sql
    body_with_pred = f"{body[:fm]}, ({pred.strip()}) AS {QUALIFY_COL}{body[fm:]}"
    sel = f"* EXCEPT ({QUALIFY_COL})" if drop else "*"
    return (
        f"SELECT {sel} FROM ({body_with_pred}) __qw WHERE {QUALIFY_COL}{tail}"
    )


def _qualify_recurse(sql: str, drop: bool) -> str:
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n and sql[j] != "'":
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            end = _balanced_arg(sql, i)
            if end is not None:
                inner = sql[i + 1 : end - 1]
                if re.match(r"\s*SELECT\b", inner, re.IGNORECASE):
                    out.append("(" + _qualify_recurse(inner, drop=True) + ")")
                    i = end
                    continue
        out.append(ch)
        i += 1
    return _qualify_one("".join(out), drop=drop)


def rewrite_qualify_all(sql: str) -> str:
    """``rewrite_qualify`` extended into subqueries and CTE bodies: every
    parenthesized ``( SELECT ... )`` group is rewritten recursively (its
    helper column EXCEPT-dropped so the subquery schema is unchanged),
    then the top level rewrites as before (engine drops the column
    post-execution)."""
    return _qualify_recurse(normalize(sql), drop=False)


def strip_db_qualifier(sql: str, db_name: str, measurement: str) -> str:
    """Rewrite ``FROM db.table`` → ``FROM table`` so the bound temp view
    resolves (temp views live outside database namespaces).

    The rewrite fires only in FROM/JOIN position and never inside
    single-quoted string literals — a blind ``re.sub`` over the whole
    text is the reference's own bug class (string splicing,
    querier/queryClient.go:844-846) and corrupts literals/comments that
    happen to contain ``db.table``.
    """
    if not db_name:
        return sql
    pat = re.compile(
        rf"((?:\bFROM|\bJOIN|,)\s+){re.escape(db_name)}\.{re.escape(measurement)}\b",
        re.IGNORECASE,
    )
    # Split on single-quoted literals (with '' escapes); rewrite only the
    # unquoted segments.
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i in range(0, len(parts), 2):
        parts[i] = pat.sub(rf"\g<1>{measurement}", parts[i])
    return "".join(parts)
