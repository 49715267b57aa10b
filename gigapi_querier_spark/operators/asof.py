"""AS-OF join — match each left row to the latest right row at-or-before it.

The reference reaches ASOF JOIN through its embedded engine's dialect
(passthrough, /root/reference/querier/queryClient.go:778-788); Spark has no
native as-of operator, so this implements it as a union + running
``last_value`` window — a composition of built-in operators that shuffles
each side exactly once on (keys, time) and never materializes the pairwise
join.

Scale: equivalent to one sort-merge pass; no pairwise blow-up, no skewed
range join. For a 100 TB fact side this is the plan you want — both inputs
hash-partition on the join keys, sort within partitions, and stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _sides(direction: str, allow_exact_match: bool) -> tuple[int, int]:
    """(left, right) sort position of the two sides at an EQUAL timestamp,
    which decides exact-match semantics: backward scans carry the last
    preceding right row (right first ⇔ exact counts); forward scans take
    the first following right row (left first ⇔ exact counts)."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if direction == "backward":
        right_side = 0 if allow_exact_match else 1
    else:
        right_side = 1 if allow_exact_match else 0
    return 1 - right_side, right_side


def _carry(
    tagged: DataFrame,
    keep: Sequence[str],
    on: Sequence[str],
    time_col: str,
    carried: Sequence[tuple[str, str]],
    right_side: int,
    direction: str,
) -> DataFrame:
    """The as-of core over ``tagged`` (both sides in one relation, each
    row's side in ``__side``): per ``on`` keys in (``time_col``, side)
    order, each ``(src, name)`` of ``carried`` takes ``src`` of the
    nearest right row as ``name``. Returns the left rows' ``keep`` columns
    plus the carried ones."""
    base = Window.partitionBy(*on).orderBy(F.col(time_col), F.col("__side"))
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    def carry(c: str) -> Column:
        src = F.when(F.col("__side") == F.lit(right_side), F.col(c))
        if direction == "backward":
            return F.last(src, ignorenulls=True).over(w)
        return F.first(src, ignorenulls=True).over(w)

    out = tagged.select(
        *keep,
        F.col("__side"),
        *[carry(src).alias(name) for src, name in carried],
    )
    return out.where(F.col("__side") != F.lit(right_side)).drop("__side")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    value_cols: Sequence[str],
    suffix: str = "_asof",
    allow_exact_match: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """For each ``left`` row, attach the nearest ``right`` row with the
    same ``on`` keys: the most recent at-or-before (``direction=
    "backward"``, default) or the earliest at-or-after (``"forward"``) —
    strict inequality when ``allow_exact_match`` is False.

    Time columns may be any orderable type; the int64-ns ``time`` model is
    typical. Returns all left columns plus ``{v}{suffix}`` for each value
    column and ``{right_time}{suffix}``.
    """
    left_side, right_side = _sides(direction, allow_exact_match)
    on = list(on)
    value_cols = list(value_cols)

    # Tag sides and align schemas: the right side's values and time move
    # to __v_* / __vt, so they never collide with a left column.
    lcols = [c for c in left.columns]
    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_time).alias("__t"),
        F.lit(left_side).alias("__side"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"__v_{v}") for v in value_cols],
        F.lit(None).cast(right.schema[right_time].dataType).alias("__vt"),
    )
    r_tagged = right.select(
        *[F.col(k) for k in on],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in on],
        F.col(right_time).alias("__t"),
        F.lit(right_side).alias("__side"),
        *[F.col(v).alias(f"__v_{v}") for v in value_cols],
        F.col(right_time).alias("__vt"),
    ).select(*[c for c in l_tagged.columns])  # column order alignment

    carried = [(f"__v_{v}", f"{v}{suffix}") for v in value_cols]
    carried.append(("__vt", f"{right_time}{suffix}"))
    return _carry(
        l_tagged.unionByName(r_tagged), lcols, on, "__t", carried, right_side, direction
    )


def asof_self_join(
    df: DataFrame,
    on: Sequence[str],
    time_col: str,
    left_pred: Column,
    right_pred: Column,
    value_cols: Sequence[str],
    suffix: str = "_asof",
    allow_exact_match: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """As-of join where BOTH sides are row subsets of the SAME relation
    (the common telemetry shape: purchases vs clicks of one events
    table). ``asof_join`` on two filters of one table plans two scans +
    a union; this tags roles in a single pass — one scan, one shuffle.

    ``left_pred``/``right_pred`` must be disjoint (a row acts as exactly
    one side). Output: rows matching ``left_pred`` with all original
    columns plus ``{v}{suffix}`` / ``{time_col}{suffix}`` carried from
    the nearest right row per the same semantics as :func:`asof_join`.
    """
    left_side, right_side = _sides(direction, allow_exact_match)
    tagged = df.where(left_pred | right_pred).withColumn(
        "__side",
        F.when(right_pred, F.lit(right_side)).otherwise(F.lit(left_side)),
    )
    carried = [(v, f"{v}{suffix}") for v in value_cols]
    carried.append((time_col, f"{time_col}{suffix}"))
    return _carry(tagged, df.columns, on, time_col, carried, right_side, direction)
