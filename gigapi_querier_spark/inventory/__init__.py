"""Query inventory — the graded operator coverage (SURVEY.md §2).

Each entry pairs a Spark implementation (``fn(spark, sf_dir) -> DataFrame``)
with the equivalent ANSI SQL the DuckDB oracle runs over the same parquet
tables. Column names and types are aligned on both sides (the driver's
compare sorts columns by name and hashes values). Float aggregates are
rounded identically on both sides so cross-engine summation order can't
flip the hash.

Queries whose semantics aren't SQL-expressible (stubs over binary
payloads) register ``oracle=None`` → the driver records a weaker
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Q:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for rows-only checks


REGISTRY: dict[str, Q] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        assert name not in REGISTRY, f"duplicate query name {name}"
        REGISTRY[name] = Q(fn, oracle)
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {name: q.fn for name, q in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


_LOADED = False

# Registration order doubles as the correctness-gate priority: the driver
# checks queries in queries() iteration order under a budget (round 1
# checked exactly the first 50 of 89). Queries never yet covered by a
# CORRECTNESS_r*.json row run first; the flagship/headline set follows so
# it stays inside the checked window; everything else (green in round 1)
# comes last. Update this list as rounds accumulate coverage.
_PRIORITY: tuple[str, ...] = (
    # -- NEVER driver-checked (added after round 3's window ran). These
    #    MUST land in round 4's budget — VERDICT r3 wrong#1. --
    "contamination_ngram_overlap",
    "text_top_ngrams",
    "skew_salted_agg",
    "skew_replicated_join",
    # -- implementation swapped in round 3 AFTER their last green row
    #    (ts_sessionize → native sessionize, asof_purchase_click →
    #    self-join plan, json_extract_agg → VARIANT); their only passing
    #    rows predate the swap (ADVICE r3 #1) --
    "ts_sessionize",
    "asof_purchase_click",
    "json_extract_agg",
    # -- flagships + the rest of the 45 queries last checked in round 2,
    #    so every query re-cycles within two rounds. Two of these spill
    #    past a 50-query budget (4+3+45 = 52); the spilled tail becomes
    #    the head of round 5. --
    "q1_pricing_summary",
    "q3_shipping_priority",
    "asof_signup_next_purchase",
    "ann_cosine_topk",
    "ann_batch_topk",
    "ann_lsh_bucket_counts",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_neardup_pairs",
    "dedup_neardup_clusters",
    "sample_split_counts",
    "pack_sequences_assign",
    "corpus_mixture_sample",
    "text_chunk_documents",
    "text_redact_pii",
    "text_token_stats",
    "text_quality_scores",
    "text_lang_id",
    "text_fingerprint",
    "text_subword_counts",
    "ts_ohlc_hourly",
    "ts_range_join_window",
    "ts_bucket_5m",
    "ts_daily_top_type",
    "ts_user_gaps",
    "expr_array_ops",
    "expr_null_funcs",
    "expr_interval_arith",
    "expr_map_ops",
    "expr_date_format",
    "expr_string_funcs2",
    "expr_bitwise",
    "expr_try_cast",
    "agg_corr_regr",
    "agg_stats2_moments",
    "agg_histogram_bins",
    "agg_bool_bit",
    "agg_group_by_all",
    "agg_percentile_within_group",
    "join_right_outer",
    "join_lateral",
    "set_intersect_all",
    "set_except_all",
    # last two before the r3-set: these spill at budget 50 and lead r5
    "select_star_except",
    "expr_greatest_least",
    # -- re-verified green in round 3 (freshest rows); registration order
    #    below this point — they cycle back in round 5. --
)


def _load() -> None:
    """Import the inventory modules (side effect: populate REGISTRY)."""
    global _LOADED
    if _LOADED:
        return
    from gigapi_querier_spark.inventory import (  # noqa: F401
        dedup,
        llmops,
        multimodal,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        similarity,
        textstats,
        timeseries,
    )

    # Reorder: priority names first (in _PRIORITY order), the rest in
    # module-registration order. dict preserves insertion order.
    ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
    ordered.update({n: q for n, q in REGISTRY.items() if n not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)
    _LOADED = True
