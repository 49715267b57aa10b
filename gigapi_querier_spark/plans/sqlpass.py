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
  reference takes the first ``FROM`` anywhere).
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

    return _TIME_LITERAL_CMP.sub(fold, sql)


@dataclass
class TimeRange:
    """Inclusive time bounds in epoch ns; None is unbounded (reference:
    TimeRange, querier/queryClient.go:80-84)."""

    start: int | None = None
    end: int | None = None

    @property
    def is_empty(self) -> bool:
        return self.start is None and self.end is None


#: Quoted text: string literals (with backslash escapes) and quoted
#: identifiers. Scans that look for SQL structure skip or mask these.
_QUOTED = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`")


def _mask(sql: str) -> str:
    """``sql`` with the inside of every quoted span blanked to spaces. It
    keeps the length, so a span found in the mask is the same span of
    ``sql``."""
    return _QUOTED.sub(lambda m: m[0][0] + " " * (len(m[0]) - 2) + m[0][-1], sql)


_SUBQUERY = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)

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


def _depth0_match(
    kw: re.Pattern, sql: str, in_subquery: bool = False
) -> re.Match | None:
    """First match of ``kw`` outside parentheses and quoted text; with
    ``in_subquery``, also directly inside a parenthesised SELECT (but not
    in a function call's parentheses)."""
    depth, subqueries, i, n = 0, set(), 0, len(sql)
    while i < n:
        ch = sql[i]
        q = _QUOTED.match(sql, i) if ch in "'\"`" else None
        if q:
            i = q.end()
            continue
        if ch == "(":
            depth += 1
            if in_subquery and _SUBQUERY.match(sql, i):
                subqueries.add(depth)
        elif ch == ")":
            subqueries.discard(depth)
            depth -= 1
        elif depth == 0 or depth in subqueries:
            m = kw.match(sql, i)
            if m:
                return m
        i += 1
    return None


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
    r"|struct_pack|list_aggregate|list_aggr|list_prepend"
    r"|epoch_ns|epoch_us|epoch_ms|epoch_s|time_bucket_ns)\s*\(",
    re.IGNORECASE,
)

#: Functions that become an expression over their arguments, by arity:
#: DuckDB's epoch family, ``time_bucket_ns(width_ns, time_ns)`` (bucket
#: start in ns, for the int64-ns time model), and ``list_prepend(elem,
#: list)``, whose arguments Spark's ``array_prepend`` takes the other way
#: round. Inline expressions need no per-session registration and stay
#: inside whole-stage codegen.
_ARG_TEMPLATES: dict[tuple[str, int], Callable[..., str]] = {
    ("epoch_ns", 1): lambda x: f"(unix_micros(CAST({x} AS TIMESTAMP)) * 1000)",
    ("epoch_us", 1): lambda x: f"unix_micros(CAST({x} AS TIMESTAMP))",
    ("epoch_ms", 1): lambda x: f"(unix_micros(CAST({x} AS TIMESTAMP)) DIV 1000)",
    ("epoch_s", 1): lambda x: f"unix_seconds(CAST({x} AS TIMESTAMP))",
    ("time_bucket_ns", 2): lambda w, t: (
        f"((CAST({t} AS BIGINT) DIV CAST({w} AS BIGINT)) * CAST({w} AS BIGINT))"
    ),
    ("list_prepend", 2): lambda e, xs: f"array_prepend({xs}, {e})",
}

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
    - ``_ARG_TEMPLATES`` (epoch family, ``time_bucket_ns``,
      ``list_prepend``).

    Arguments are rewritten first, so calls nest.
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
        args = [
            _rewrite_arg_transforms(a) for a in _split_top_args(sql[m.end() : end - 1])
        ]
        repl = None
        if (fn, len(args)) in _ARG_TEMPLATES:
            repl = _ARG_TEMPLATES[fn, len(args)](*args)
        elif fn in ("str_split", "string_split", "string_to_array") and len(args) == 2:
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
            # no rewrite for this call: keep it, rewrite inside it
            out.append(sql[pos : m.end()])
            pos = m.end()
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
    - ``epoch_ns/epoch_us/epoch_ms/epoch_s(ts)``, ``time_bucket_ns(w, t)``
      → inline ``unix_micros``/``DIV`` expressions
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
    m = _depth0_match(_TAIL_KW, s)
    return (s[: m.start()], s[m.start() :]) if m else (s, "")


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


def _qualify_one(sql: str, drop: bool) -> str:
    """Rewrite THIS query level's QUALIFY. ``drop=True`` excludes the
    helper column in the rewritten text (``SELECT * EXCEPT``) — needed
    when the query is a subquery whose schema must not grow; the
    top-level form leaves it for the engine to drop post-execution
    (pre-Spark-3.4 EXCEPT-free compatibility)."""
    m = _depth0_match(_QUALIFY_KW, sql)
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
