"""Light SQL pre-pass — the engine-side counterpart of the reference's
regex parser (ParseQuery, querier/queryClient.go:87-182) and time-range
extractor (extractTimeRange, :185-337).

Spark SQL parses the statement itself at execution time; this pass only
finds what the *engine* acts on before execution:

- the target ``db.table`` (to resolve + prune parquet files and bind a
  temp view),
- the ``time`` bounds (to prune files against the catalog's
  [min_time, max_time] index).

``rewrite_time_literals`` is the one place that recognises the
reference's four timestamp-literal wrappers: it folds ``time <op> <lit>``
and ``time BETWEEN <lit> AND <lit>`` to ns integers. ``extract_time_range``
reads bounds from the folded text only, and ``drop_time_conjuncts``
replaces exactly the conjuncts those bounds come from with ``TRUE`` (the
engine does so when the catalog proves them true for every kept file).

Divergences from the reference (documented; all strictly-saner):
- one-sided time ranges are extracted and *do* prune (the reference
  requires both bounds — queryClient.go:370, :380-381);
- bounds come only from top-level AND-conjuncts of the outer WHERE, so a
  pruned file can hold no row the query would return. A ``time``
  comparison under OR, NOT or CASE, in a subquery or CTE body, or in a
  statement with a set operation gives none (the reference takes every
  match in the clause);
- ``>``/``<`` bounds are ``v+1``/``v-1``, so ``time < X`` does not keep
  a file that starts at ``X``;
- ``time <op> <ns integer>`` prunes like the folded literal;
- literals fold to int64-ns integers instead of ``epoch_ns`` string
  splices, and no ``TimeCondition`` text is synthesised;
- ``epoch_*`` and ``time_bucket_ns`` are rewritten to inline expressions
  (``to_spark_sql``), not registered per session;
- the target table is the first ``FROM <name>`` at depth 0 or directly in
  a subquery, not one inside a function call (``extract(hour FROM …)``),
  and ``normalize`` ends each ``--`` comment at its newline (the
  reference takes the first ``FROM`` anywhere);
- quoted text is never rewritten: every rewrite finds its matches on
  ``_mask`` (``'…'``, ``"…"`` — a string literal in Spark's default mode
  — and backtick identifiers blanked) and nesting is read by one scan,
  ``_depth0_match`` (the reference splices only the ``FROM`` target and
  hands DuckDB the rest untouched, queryClient.go:838-861).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass
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


# --- quoted text and nesting: one definition each ---------------------------

#: Quoted text: string literals (with backslash escapes; ``''`` reads as
#: two adjacent literals) and quoted identifiers. Spark's default mode
#: reads ``"…"`` as a string literal too. No rewrite changes quoted text.
_QUOTED = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`")


def _mask(sql: str) -> str:
    """``sql`` with the inside of every quoted span blanked to spaces. It
    keeps the length, so a span found in the mask is the same span of
    ``sql``."""
    return _QUOTED.sub(lambda m: m[0][0] + " " * (len(m[0]) - 2) + m[0][-1], sql)


def sub_unquoted(
    pattern: re.Pattern, repl: Callable[[re.Match], str], sql: str
) -> str:
    """``pattern.sub(repl, sql)`` outside quoted text. Matches are found on
    the mask, so none starts or ends inside a quoted span; ``repl`` gets
    the same span matched on ``sql``, quoted text included. A span whose
    quoted text the pattern rejects (an escaped quote) is left as is."""
    out, pos = [], 0
    for m in pattern.finditer(_mask(sql)):
        orig = pattern.fullmatch(sql, m.start(), m.end())
        if orig:
            out += [sql[pos : m.start()], repl(orig)]
            pos = m.end()
    return "".join(out) + sql[pos:]


_SUBQUERY = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)


def _depth0_match(
    kw: re.Pattern, masked: str, pos: int = 0, in_subquery: bool = False
) -> re.Match | None:
    """First match of ``kw`` in a masked text from ``pos`` that is outside
    the parentheses and brackets opened after ``pos``; with
    ``in_subquery``, also directly inside a parenthesised SELECT (but not
    in a function call's parentheses). The one scan that reads nesting."""
    depth, subqueries = 0, set()
    for i in range(pos, len(masked)):
        if depth == 0 or depth in subqueries:
            m = kw.match(masked, i)
            if m:
                return m
        ch = masked[i]
        if ch in "([":
            depth += 1
            if in_subquery and _SUBQUERY.match(masked, i):
                subqueries.add(depth)
        elif ch in ")]":
            subqueries.discard(depth)
            depth -= 1
    return None


_CLOSE = re.compile(r"[)\]]")
_COMMA = re.compile(",")


def _close(masked: str, i: int) -> int | None:
    """Index just past the bracket that closes the one at ``masked[i]``."""
    m = _depth0_match(_CLOSE, masked, i + 1)
    return m and m.end()


def _args(masked: str, start: int, end: int) -> list[tuple[int, int]]:
    """The spans of the top-level comma-separated items of
    ``masked[start:end]``."""
    spans, masked = [], masked[:end]
    while comma := _depth0_match(_COMMA, masked, start):
        spans.append((start, comma.start()))
        start = comma.end()
    return spans + [(start, end)]


# --- time literals: one grammar ---------------------------------------------

#: A timestamp literal in any of the four wrappers the reference recognizes
#: (querier/queryClient.go:199-218): '<lit>'[::TIMESTAMP],
#: cast('<lit>' as timestamp), epoch_ns('<lit>'[::TIMESTAMP]) and
#: epoch_ns(cast('<lit>' as timestamp)[::TIMESTAMP]).
_WRAPPED = (
    r"(?:'[^']+'(?:::TIMESTAMP)?"
    r"|cast\s*\(\s*'[^']+'\s+as\s+timestamp\s*\)"
    r"|epoch_ns\s*\(\s*(?:'[^']+'|cast\s*\(\s*'[^']+'\s+as\s+timestamp\s*\))"
    r"(?:::TIMESTAMP)?\s*\))"
)

#: ``time`` must be a standalone identifier: reject a preceding word char,
#: ``.`` (qualified columns like ``events.time`` are left untouched — a
#: rewrite would drop the qualifier) or ``"`` (quoted identifiers). The
#: reference's own regexes lack this boundary (Go regexp has no lookbehind;
#: querier/queryClient.go:199-218) so ``endtime >= '...'`` matches there —
#: a bug class we deliberately do NOT reproduce.
_TIME_LITERAL_CMP = re.compile(
    rf"(?<![\w.\"])time(?:\s*(>=|>|<=|<|=)\s*({_WRAPPED})"
    rf"|\s+BETWEEN\s+({_WRAPPED})\s+AND\s+({_WRAPPED}))",
    re.IGNORECASE,
)
_LIT = re.compile(r"'([^']+)'")


def rewrite_time_literals(sql: str) -> str:
    """Fold ``time <op> <lit>`` and ``time BETWEEN <lit> AND <lit>`` to
    int64-ns integers, for every wrapper. The reference instead splices
    ``epoch_ns('<lit>'::TIMESTAMP)`` (querier/queryClient.go:848-850); an
    integer hits the int64-ns column directly and is a constant for
    Catalyst. An unparseable literal leaves its comparison untouched."""

    def fold(m: re.Match) -> str:
        op, *wrapped = m.groups()
        ns = [parse_time_literal_ns(_LIT.search(w).group(1)) for w in wrapped if w]
        if None in ns:
            return m.group(0)
        if op:
            return f"time {op} {ns[0]}"
        return f"time BETWEEN {ns[0]} AND {ns[1]}"

    return sub_unquoted(_TIME_LITERAL_CMP, fold, sql)


@dataclass
class TimeRange:
    """Inclusive time bounds in epoch ns; None is unbounded (reference:
    TimeRange, querier/queryClient.go:80-84)."""

    start: int | None = None
    end: int | None = None

    @property
    def is_empty(self) -> bool:
        return self.start is None and self.end is None


#: Text in whose presence a ``time`` conjunct of the WHERE clause need not
#: bound every scan of the table: a subquery or CTE body, a set operation
#: (``* EXCEPT (cols)`` is a star modifier, not one) or a comment.
_NOT_ONE_SCAN = re.compile(
    rf"{_SUBQUERY.pattern}|\b(?:UNION|INTERSECT|MINUS)\b|(?<!\* )\bEXCEPT\b|--|/\*",
    re.IGNORECASE,
)

#: Tokens that shape a boolean clause: nesting, and the keywords whose
#: depth-0 occurrences decide its conjuncts.
_STRUCTURE = re.compile(r"[()]|\b(?:CASE|END|AND|OR|BETWEEN)\b", re.IGNORECASE)

#: A conjunct that bounds ``time``, once its literals are folded.
_TIME_BOUND = re.compile(
    r"time\s*(>=|>|<=|<|=)\s*(-?\d+)|time\s+BETWEEN\s+(-?\d+)\s+AND\s+(-?\d+)",
    re.IGNORECASE,
)


def _conjuncts(clause: str) -> list[tuple[int, int]] | None:
    """The ``(start, end)`` spans of the depth-0 AND operands of a masked
    clause (``BETWEEN a AND b`` kept whole; ``CASE … END`` nests like
    parentheses), or None when the clause has a depth-0 OR or closes a
    parenthesis it did not open."""
    out, start, depth, between = [], 0, 0, False
    for m in _STRUCTURE.finditer(clause):
        tok = m.group().upper()
        if tok in ("(", "CASE"):
            depth += 1
        elif tok in (")", "END"):
            depth -= 1
            if depth < 0:
                return None
        elif depth:
            continue
        elif tok == "OR":
            return None
        elif tok == "BETWEEN":
            between = True
        elif between:
            between = False  # the AND of ``BETWEEN a AND b``
        else:
            out.append((start, m.start()))
            start = m.end()
    out.append((start, len(clause)))
    return out


def _time_conjuncts(clause: str) -> list[re.Match]:
    """The depth-0 conjuncts of a masked, folded clause that are exactly
    ``time <op> <int>`` or ``time BETWEEN <int> AND <int>``. None qualify
    when the clause has a depth-0 OR, a subquery, a set operation or a
    comment."""
    if _NOT_ONE_SCAN.search(clause):
        return []
    out = []
    for start, end in _conjuncts(clause) or ():
        text = clause[start:end]
        lo = start + len(text) - len(text.lstrip())
        m = _TIME_BOUND.fullmatch(clause, lo, start + len(text.rstrip()))
        if m:
            out.append(m)
    return out


def extract_time_range(where_clause: str) -> TimeRange:
    """The ``[start, end]`` ns bounds a WHERE clause puts on ``time``.

    Only top-level conjuncts that are, once ``rewrite_time_literals`` has
    folded them, exactly ``time <op> <int>`` or ``time BETWEEN <int> AND
    <int>`` give bounds, and the tightest win. A row outside the range
    therefore fails the clause, whatever the rest of it says — the
    condition for pruning files on it. ``>`` and ``<`` become ``v+1`` and
    ``v-1`` (``time`` is an integer). A clause with a depth-0 OR, a
    subquery, a set operation or a comment gives no bounds.
    """
    tr = TimeRange()
    for m in _time_conjuncts(_mask(rewrite_time_literals(where_clause))):
        op, v, lo, hi = m.groups()
        if op is None:
            start, end = int(lo), int(hi)
        else:
            v = int(v)
            start = {">=": v, ">": v + 1, "=": v}.get(op)
            end = {"<=": v, "<": v - 1, "=": v}.get(op)
        if start is not None:
            tr.start = start if tr.start is None else max(tr.start, start)
        if end is not None:
            tr.end = end if tr.end is None else min(tr.end, end)
    return tr


# --- query parsing -----------------------------------------------------------


@dataclass
class ParsedQuery:
    """What the engine acts on before Spark parses the statement: the
    target table and the time bounds that prune its files."""

    db_name: str
    measurement: str
    time_range: TimeRange


class ParseError(ValueError):
    """Raised when the light pre-pass can't find a single FROM target —
    the engine then falls back to executing the SQL verbatim
    (reference: querier/queryClient.go:768-815)."""


#: Quoted text or a block comment (kept as is), or a run of whitespace and
#: ``--`` comments, each ending at its newline (one space).
_NORMALIZE = re.compile(rf"({_QUOTED.pattern}|/\*.*?\*/)|(?:\s|--[^\n]*)+", re.DOTALL)


def normalize(sql: str) -> str:
    """The statement with its ``--`` comments dropped and each run of
    whitespace outside quoted text and block comments made one space. A
    ``--`` comment ends at its newline, so joining the lines never lets
    it comment out the rest of the statement."""
    return _NORMALIZE.sub(lambda m: m[1] or " ", sql).strip()


_FROM_TABLE = re.compile(r"(?<!\w)FROM\s+(?:(\w+)\.)?(\w+)", re.IGNORECASE)
_WHERE_KW = re.compile(r"\sWHERE\s", re.IGNORECASE)
_WHERE_END = re.compile(
    r"\s(?:GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT)\b", re.IGNORECASE
)


def _where_clause(masked: str) -> tuple[int, int] | None:
    """The span of a masked statement's depth-0 WHERE clause: from after
    WHERE to a depth-0 GROUP BY / HAVING / QUALIFY / WINDOW / ORDER BY /
    LIMIT, or to the end (a trailing ``;`` excluded)."""
    where = _depth0_match(_WHERE_KW, masked)
    if not where:
        return None
    start = where.end()
    end = _depth0_match(_WHERE_END, masked[start:])
    if end:
        return start, start + end.start()
    return start, len(masked.rstrip("; "))


def parse_query(sql: str, db_name: str = "") -> ParsedQuery:
    """The FROM target (``db.table`` or ``table`` in ``db_name``) and the
    time bounds of the statement's depth-0 WHERE clause (reference:
    queryClient.go:87-182). The target is the first ``FROM <name>`` at
    depth 0 or directly in a subquery or CTE body, never one inside a
    function call such as ``extract(hour FROM …)``. A statement with a
    subquery, CTE body or set operation gets no bounds: its own ``time``
    conjuncts need not bound every scan of the table."""
    sql = normalize(sql).rstrip(";")
    masked = _mask(sql)
    from_m = _depth0_match(_FROM_TABLE, masked, in_subquery=True)
    if not from_m:
        raise ParseError("invalid query: FROM clause not found or invalid")
    span = _where_clause(masked)
    time_range = TimeRange()
    if span and not _NOT_ONE_SCAN.search(masked):
        time_range = extract_time_range(sql[span[0] : span[1]])
    return ParsedQuery(from_m.group(1) or db_name, from_m.group(2), time_range)


def drop_time_conjuncts(sql: str) -> str:
    """``sql`` with each top-level ``time`` conjunct of its WHERE clause
    replaced by ``TRUE``: exactly the conjuncts ``parse_query`` takes
    bounds from, on text ``rewrite_time_literals`` has folded. Sound only
    when every row the statement scans is known to have a non-null
    ``time`` inside those bounds (the engine asks ``TableIndex.covers``);
    then the conjuncts are TRUE on every row, and Spark need not push them
    into the scan."""
    masked = _mask(sql)
    span = _where_clause(masked)
    if span is None or _NOT_ONE_SCAN.search(masked):
        return sql
    start, end = span
    for m in reversed(_time_conjuncts(masked[start:end])):
        sql = f"{sql[: start + m.start()]}TRUE{sql[start + m.end() :]}"
    return sql


# --- DuckDB → Spark dialect shim ---------------------------------------------

#: DuckDB list_/aggregate function names → Spark equivalents (same arity &
#: argument order; applied only when followed by ``(`` and outside quoted
#: text). The reference accepts the full DuckDB dialect on its
#: passthrough path (querier/queryClient.go:778-815); these cover the
#: functions reference-README-style queries actually use.
_FN_ALIASES = {
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "list_distinct": "array_distinct",
    "list_min": "array_min",
    "list_max": "array_max",
    "list_append": "array_append",
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


def _lambda_arrow(m: re.Match) -> str:
    params = [p.strip() for p in m.group(1).split(",")]
    if len(params) == 1:
        return f"{params[0]} ->"
    return "(" + ", ".join(params) + ") ->"


_SIMILAR_TO = re.compile(r"\bSIMILAR\s+TO\s+'([^']*)'", re.IGNORECASE)

#: DuckDB star modifier: SELECT * EXCLUDE (a, b) → Spark * EXCEPT (a, b)
_STAR_EXCLUDE = re.compile(r"(\*\s+)EXCLUDE(\s*\()", re.IGNORECASE)

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


def _in_lambda_position(masked: str, start: int) -> bool:
    """True when the identifier at ``start`` of a masked statement sits
    directly after ``(`` or ``,`` of a higher-order function call — i.e.
    it is a lambda parameter, not a JSON column (ADVICE r2)."""
    j = start - 1
    while j >= 0 and masked[j].isspace():
        j -= 1
    if j < 0 or masked[j] not in "(,":
        return False
    # find the innermost unmatched '(' before the identifier, then the
    # function name in front of it
    bal = 0
    k = start - 1
    while k >= 0:
        ch = masked[k]
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
    while e >= 0 and masked[e].isspace():
        e -= 1
    s = e
    while s >= 0 and (masked[s].isalnum() or masked[s] == "_"):
        s -= 1
    return masked[s + 1 : e + 1].lower() in _HOF_FNS


def _rewrite_json_arrows(sql: str) -> str:
    masked = _mask(sql)

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
        if "." not in base and _in_lambda_position(masked, m.start()):
            return m.group(0)
        path = ""
        for step in steps:
            key, idx = step.group(1), step.group(2)
            path += f".{key}" if key is not None else f"[{idx}]"
        return f"get_json_object({base}, '${path}')"

    return sub_unquoted(_JSON_ARROW, repl, sql)


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


def _count(arg: str) -> str:
    """DuckDB list count: the non-NULL elements."""
    return f"size(filter({arg}, _e -> _e IS NOT NULL))"


def _fold_avg(arg: str) -> str:
    """DuckDB-style list avg: sum of non-NULLs / count of non-NULLs
    (not array size — ADVICE r3); nullif keeps the empty case NULL
    without tripping ANSI division-by-zero."""
    return f"{_fold_sum(arg)} / nullif({_count(arg)}, 0)"


#: list_aggregate's function-name argument → Spark array equivalents.
#: Callables (not str.format templates — braces in the argument, e.g.
#: struct literals, would abort a format; ADVICE r3). sum/avg/count share
#: the NULL-correct bodies of list_sum/list_avg/list_count.
_LIST_AGGR_FNS: dict[str, Callable[[str], str]] = {
    "'sum'": _fold_sum,
    "'min'": lambda a: f"array_min({a})",
    "'max'": lambda a: f"array_max({a})",
    "'count'": _count,
    "'avg'": _fold_avg,
}

_PLAIN_LIT = re.compile(r"^'([^']*)'$")


def _split_on_value(s: str, delim: str) -> str:
    """DuckDB's ``str_split(s, delim)`` splits on the delimiter's VALUE;
    Spark's ``split`` reads a REGEX. A literal delimiter is re.escape()d,
    with backslashes doubled for the SQL string-literal layer (Spark drops
    the backslash of unrecognized escapes, so a single ``\\.`` would reach
    the regex engine as ``.`` — ADVICE r2). Any other delimiter has every
    non-word character of its runtime value backslash-escaped (Java regex
    reads a backslash before any non-alphabetic character as that
    character; a \\Q…\\E wrapper broke on values containing \\E)."""
    lit = _PLAIN_LIT.match(delim)
    if lit:
        escaped = re.escape(lit.group(1)).replace("\\", "\\\\")
        return f"split({s}, '{escaped}')"
    return f"split({s}, regexp_replace({delim}, '(\\\\W)', '\\\\\\\\$1'))"


def _list_aggregate(xs: str, fn: str) -> str | None:
    body = _LIST_AGGR_FNS.get(fn.lower())
    return body and body(xs)


def _position(xs: str, v: str) -> str:
    """DuckDB's list_position returns NULL on a miss; Spark returns 0."""
    return f"nullif(array_position({xs}, {v}), 0)"


#: DuckDB functions whose Spark equivalent is an expression over their
#: arguments, by arity; an arity not listed is left untouched, so Spark
#: fails loudly instead of silently returning wrong rows (ADVICE r2). The
#: epoch family and ``time_bucket_ns(width_ns, time_ns)`` (bucket start in
#: ns, for the int64-ns time model) become inline expressions that need no
#: per-session registration and stay inside whole-stage codegen;
#: ``list_slice``'s end is inclusive (DuckDB 1.0; Spark's ``slice`` takes a
#: length); ``list_prepend(elem, list)`` takes Spark's arguments the other
#: way round; Spark has no array sum.
_ARG_TEMPLATES: dict[tuple[str, int], Callable[..., str | None]] = {
    ("epoch_ns", 1): lambda x: f"(unix_micros(CAST({x} AS TIMESTAMP)) * 1000)",
    ("epoch_us", 1): lambda x: f"unix_micros(CAST({x} AS TIMESTAMP))",
    ("epoch_ms", 1): lambda x: f"(unix_micros(CAST({x} AS TIMESTAMP)) DIV 1000)",
    ("epoch_s", 1): lambda x: f"unix_seconds(CAST({x} AS TIMESTAMP))",
    ("time_bucket_ns", 2): lambda w, t: (
        f"((CAST({t} AS BIGINT) DIV CAST({w} AS BIGINT)) * CAST({w} AS BIGINT))"
    ),
    ("list_prepend", 2): lambda e, xs: f"array_prepend({xs}, {e})",
    ("list_slice", 3): lambda xs, b, e: f"slice({xs}, {b}, ({e}) - ({b}) + 1)",
    ("list_position", 2): _position,
    ("list_indexof", 2): _position,
    ("list_sum", 1): _fold_sum,
    ("list_avg", 1): _fold_avg,
    ("list_count", 1): _count,
    ("list_aggregate", 2): _list_aggregate,
    ("list_aggr", 2): _list_aggregate,
    ("str_split", 2): _split_on_value,
    ("string_split", 2): _split_on_value,
    ("string_to_array", 2): _split_on_value,
}

#: struct_pack named argument: name := expr
_NAMED_ARG = re.compile(r"^([A-Za-z_]\w*)\s*:=\s*(.+)$", re.DOTALL)

_ARG_XFORM = re.compile(
    r"\b(" + "|".join(sorted({fn for fn, _ in _ARG_TEMPLATES} | {"struct_pack"}))
    + r")\s*\(",
    re.IGNORECASE,
)


def _rewrite_arg_transforms(sql: str) -> str:
    """Rewrite the calls ``_ARG_TEMPLATES`` lists, and ``struct_pack(a :=
    1, b := x)`` → ``named_struct('a', 1, 'b', x)``. Arguments are
    rewritten first, so calls nest."""
    masked, out, pos = _mask(sql), [], 0
    for m in _ARG_XFORM.finditer(masked):
        end = _close(masked, m.end() - 1) if m.start() >= pos else None
        if end is None:
            continue
        fn = m.group(1).lower()
        args = [
            _rewrite_arg_transforms(sql[a:b].strip())
            for a, b in _args(masked, m.end(), end - 1)
        ]
        if fn == "struct_pack":
            named = [_NAMED_ARG.match(a) for a in args]
            repl = all(named) and "named_struct({})".format(
                ", ".join(f"'{n.group(1)}', {n.group(2).strip()}" for n in named)
            )
        else:
            template = _ARG_TEMPLATES.get((fn, len(args)))
            repl = template and template(*args)
        if repl:
            out += [sql[pos : m.start()], repl]
            pos = end
    return "".join(out) + sql[pos:]


def _tablesample(m: re.Match) -> str:
    unit = "ROWS" if (m.group(2) or "").upper() == "ROWS" else "PERCENT"
    return f"TABLESAMPLE ({m.group(1)} {unit})"


def to_spark_sql(sql: str) -> str:
    """Rewrite the DuckDB-isms the reference's own API surface accepts so
    Spark SQL parses them (the reference passes the full DuckDB dialect to
    its embedded engine, queryClient.go:778-815; ``x::TYPE`` needs none):

    - ``x -> 'a' ->> 'b'``      → ``get_json_object(x, '$.a.b')``
    - ``lambda x: body``        → ``x -> body``
    - ``list_*``/``str_split``/… → Spark array/string equivalents
    - ``list_sum/avg/count(x)`` → higher-order ``aggregate`` folds
    - ``USING SAMPLE n% | n ROWS`` → ``TABLESAMPLE (…)``
    - ``SIMILAR TO 'pat'``      → anchored ``RLIKE``
    - ``epoch_ns/epoch_us/epoch_ms/epoch_s(ts)``, ``time_bucket_ns(w, t)``
      → inline ``unix_micros``/``DIV`` expressions
    - ``* EXCLUDE (cols)``      → ``* EXCEPT (cols)``

    Quoted text is never rewritten.
    """
    sql = _rewrite_json_arrows(sql)
    sql = sub_unquoted(_LAMBDA_KW, _lambda_arrow, sql)
    sql = _rewrite_arg_transforms(sql)
    sql = sub_unquoted(_FN_ALIAS_RE, lambda m: _FN_ALIASES[m.group(1).lower()] + "(", sql)
    sql = sub_unquoted(_USING_SAMPLE, _tablesample, sql)
    sql = sub_unquoted(_SIMILAR_TO, lambda m: f"RLIKE '^(?:{m.group(1)})$'", sql)
    return sub_unquoted(_STAR_EXCLUDE, lambda m: f"{m.group(1)}EXCEPT{m.group(2)}", sql)


#: the column the QUALIFY rewrite adds to a query level and excludes again
#: one level up
_QUALIFY_COL = "__qualify__"

_QUALIFY_KW = re.compile(r"\sQUALIFY\s", re.IGNORECASE)
_TAIL_KW = re.compile(r"\s(ORDER\s+BY|LIMIT)\s", re.IGNORECASE)
_FROM_KW = re.compile(r"\sFROM\s", re.IGNORECASE)


def _qualify_one(sql: str) -> str:
    """Rewrite THIS query level's QUALIFY. The predicate is appended to the
    level's own select list (so it can reference any column of the source
    relation, projected or not), and filtered one level up:

        SELECT <sel> FROM <rest> QUALIFY <pred> [ORDER BY … | LIMIT …]
        → SELECT * EXCEPT (__qualify__) FROM (SELECT <sel>,
          (<pred>) AS __qualify__ FROM <rest>) __qw WHERE __qualify__
          [ORDER BY … | LIMIT …]

    QUALIFY on a SELECT DISTINCT changes the distinct key — a documented
    limitation."""
    masked = _mask(sql)
    q = _depth0_match(_QUALIFY_KW, masked)
    fm = q and _depth0_match(_FROM_KW, masked[: q.start()])
    if not fm:
        return sql
    tail = _depth0_match(_TAIL_KW, masked, q.end())
    cut = tail.start() if tail else len(sql)
    pred = sql[q.end() : cut].strip()
    return (
        f"SELECT * EXCEPT ({_QUALIFY_COL}) FROM ({sql[: fm.start()]}, ({pred})"
        f" AS {_QUALIFY_COL}{sql[fm.start() : q.start()]}) __qw"
        f" WHERE {_QUALIFY_COL}{sql[cut:]}"
    )


def _qualify_levels(sql: str) -> str:
    masked, out, pos = _mask(sql), [], 0
    for m in _SUBQUERY.finditer(masked):
        end = _close(masked, m.start()) if m.start() >= pos else None
        if end is not None:
            inner = _qualify_levels(sql[m.start() + 1 : end - 1])
            out += [sql[pos : m.start()], f"({inner})"]
            pos = end
    return _qualify_one("".join(out) + sql[pos:])


def rewrite_qualify_all(sql: str) -> str:
    """DuckDB ``QUALIFY <pred>`` → standard SQL Spark parses, at every
    query level: each parenthesised ``(SELECT …)`` (subquery or CTE body),
    innermost first, then the statement itself. Every level excludes its
    helper column again, so no level's schema grows."""
    return _qualify_levels(normalize(sql))


def strip_db_qualifier(sql: str, db_name: str, measurement: str) -> str:
    """Rewrite ``FROM db.table`` → ``FROM table`` so the bound temp view
    resolves (temp views live outside database namespaces).

    The rewrite fires only in FROM/JOIN position and never inside quoted
    text — a blind ``re.sub`` over the whole text is the reference's own
    bug class (string splicing, querier/queryClient.go:844-846) and
    corrupts literals/comments that happen to contain ``db.table``.
    """
    if not db_name:
        return sql
    pat = re.compile(
        rf"((?:\bFROM|\bJOIN|,)\s+){re.escape(db_name)}\.{re.escape(measurement)}\b",
        re.IGNORECASE,
    )
    return sub_unquoted(pat, lambda m: m.group(1) + measurement, sql)
