"""Time-series queries over the int64-ns time model (reference data model:
``time`` columns are epoch nanoseconds — querier/queryClient.go:185-337;
``events.ts`` is loaded as LongType ns through ``session.time_ns``).

Oracle note: DuckDB reads the same parquet as timestamp and truncates ns→µs,
so every cross-engine comparison buckets at µs or coarser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gigapi_querier_spark.inventory import register
from gigapi_querier_spark.operators.asof import asof_join
from gigapi_querier_spark.plans.sqlpass import NS_PER_S
from gigapi_querier_spark.sources import load_tables


# --------------------------------------------------------------------------
# time_bucket: 5-minute windows — the canonical time-series rollup.
# Scale: pure map-side arithmetic + one partial-aggregated shuffle on
# (bucket, type); no window function needed.
# --------------------------------------------------------------------------
# avg is emitted as round(sum,2)/n, NOT round(avg(value),4): the rounded
# sum is identical cross-engine (2-decimal inputs never sum to an exact
# .005 half), so the quotient is the same IEEE double bit-for-bit —
# whereas rounding an average whose divisor is a power of two hits exact
# half boundaries where Spark and DuckDB round differently.
@register(
    "ts_bucket_5m",
    oracle="""
SELECT (epoch_ns(ts) // 300000000000) * 300 AS bucket_s,
       event_type,
       count(*)                        AS n,
       round(sum(value), 2)            AS sum_value,
       round(sum(value), 2) / count(*) AS avg_value
FROM events GROUP BY 1, 2
""",
)
def ts_bucket_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    # Integer division: ns values exceed 2^53, so float division would lose
    # precision near bucket boundaries.
    bucket = F.expr(f"(ts DIV {300 * NS_PER_S}) * 300").alias("bucket_s")
    return (
        t["events"]
        .groupBy(bucket, "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            (F.round(F.sum("value"), 2) / F.count("*")).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# Daily top event types — bucket + rank, two time-series staples chained.
# --------------------------------------------------------------------------
@register(
    "ts_daily_top_type",
    oracle="""
SELECT day_s, event_type, n FROM (
  SELECT (epoch_ns(ts) // 86400000000000) * 86400 AS day_s,
         event_type, count(*) AS n,
         CAST(row_number() OVER (PARTITION BY (epoch_ns(ts) // 86400000000000) * 86400
                            ORDER BY count(*) DESC, event_type) AS INT) AS rnk
  FROM events GROUP BY 1, 2
) t WHERE rnk = 1
""",
)
def ts_daily_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        """
SELECT day_s, event_type, n FROM (
  SELECT (ts DIV 86400000000000) * 86400 AS day_s,
         event_type, count(*) AS n,
         row_number() OVER (PARTITION BY (ts DIV 86400000000000) * 86400
                            ORDER BY count(*) DESC, event_type) AS rnk
  FROM events GROUP BY 1, 2
) t WHERE rnk = 1
"""
    )


# --------------------------------------------------------------------------
# JSON column access (events.props is a JSON blob; SURVEY.md §2.B JSON row)
# --------------------------------------------------------------------------
@register(
    "json_extract_agg",
    oracle="""
SELECT user_id,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY user_id
""",
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    # Spark 4 VARIANT beats get_json_object ~20% here (one binary parse +
    # typed path access vs a Jackson walk per row). try_parse_json keeps
    # get_json_object's (and DuckDB json_extract's) lenient semantics:
    # NULL on malformed JSON, not a query-aborting error (ADVICE r3).
    return (
        t["events"]
        .select(
            "user_id",
            F.expr(
                "try_variant_get(try_parse_json(props), '$.k', 'bigint')"
            ).alias("k"),
        )
        .groupBy("user_id")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# AS-OF join: for each purchase, the latest click at-or-before it by the
# same user. Spark: union + running last_value (operators/asof.py — one
# shuffle, no pairwise blow-up). Oracle: DuckDB's native ASOF JOIN.
# Times are compared/emitted at µs (ns on the Spark side are µs-aligned
# after DuckDB truncation — see module docstring).
# --------------------------------------------------------------------------
@register(
    "asof_purchase_click",
    oracle="""
SELECT p.event_id,
       p.user_id,
       epoch_us(p.ts)              AS purchase_us,
       epoch_us(c.ts)              AS click_us,
       round(c.value, 2)           AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapi_querier_spark.operators.asof import asof_self_join

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("event_id", "user_id", "ts", "event_type", "value")
    # both sides are subsets of events → single-scan self as-of
    joined = asof_self_join(
        ev,
        on=["user_id"],
        time_col="ts",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "click",
        value_cols=["value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000").alias("purchase_us"),
        F.expr("ts_asof DIV 1000").alias("click_us"),
        F.round("value_asof", 2).alias("click_value"),
    )


# --------------------------------------------------------------------------
# Session-style gap analysis: per-user time deltas via lag over ns longs.
# --------------------------------------------------------------------------
# Forward as-of: for each signup, the EARLIEST purchase at-or-after it by
# the same user (time-to-conversion analysis).
@register(
    "asof_signup_next_purchase",
    oracle="""
SELECT s.event_id,
       s.user_id,
       epoch_us(s.ts)    AS signup_us,
       epoch_us(p.ts)    AS purchase_us,
       round(p.value, 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'signup') s
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id AND s.ts <= p.ts
""",
)
def asof_signup_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        signups,
        purchases,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        value_cols=["value"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000").alias("signup_us"),
        F.expr("ts_asof DIV 1000").alias("purchase_us"),
        F.round("value_asof", 2).alias("purchase_value"),
    )


# --------------------------------------------------------------------------
# Sessionization (30-min inactivity gap) — operators/sessionize.py; the
# oracle is the lag → cumulative-sum window composition.
# Both sides computed at µs so DuckDB's ns→µs truncation can't skew gaps.
# --------------------------------------------------------------------------
@register(
    "ts_sessionize",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
),
flags AS (
  SELECT user_id, event_id, t_us,
         CASE WHEN lag(t_us) OVER w IS NULL
                   OR t_us - lag(t_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
sess AS (
  SELECT user_id, t_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flags
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(t_us) AS session_start,
       max(t_us) AS session_end
FROM sess GROUP BY user_id, session_id
""",
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # native session_window path — same rows as the two-window
    # sessionize_batch reference, one aggregation pass instead of two
    # analytic windows
    from gigapi_querier_spark.operators.sessionize import sessionize_native

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "user_id", "event_id", F.expr("ts DIV 1000").alias("t_us")
    )
    return sessionize_native(
        ev, time_col="t_us", gap_minutes=30, ticks_per_second=1_000_000
    )


@register(
    "ts_user_gaps",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us
FROM (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
           AS gap_us
  FROM events
) t
GROUP BY user_id
""",
)
def ts_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        """
SELECT user_id,
       count(*) AS n_events,
       max(gap_us) AS max_gap_us,
       min(gap_us) AS min_gap_us
FROM (
  SELECT user_id,
         (ts DIV 1000) - lag(ts DIV 1000) OVER (PARTITION BY user_id ORDER BY event_id)
           AS gap_us
  FROM events
) t
GROUP BY user_id
"""
    )


# --------------------------------------------------------------------------
# OHLC downsampling: the classic financial/time-series rollup — per hourly
# bucket: first (open), max (high), min (low), last (close) of `value`.
# Scale: one window pass ordered inside the bucket + one aggregation —
# both shuffle on the bucket key only; deterministic tiebreak on
# (ts, event_id) keeps first/last identical across engines.
# --------------------------------------------------------------------------
_OHLC_SPARK = """
WITH e AS (
  SELECT (ts DIV 3600000000000) * 3600 AS bucket_s, ts, event_id, value,
         row_number() OVER (PARTITION BY ts DIV 3600000000000
                            ORDER BY ts, event_id)       AS rn_f,
         row_number() OVER (PARTITION BY ts DIV 3600000000000
                            ORDER BY ts DESC, event_id DESC) AS rn_l
  FROM events
)
SELECT bucket_s,
       round(max(CASE WHEN rn_f = 1 THEN value END), 2) AS open,
       round(max(value), 2)                             AS high,
       round(min(value), 2)                             AS low,
       round(max(CASE WHEN rn_l = 1 THEN value END), 2) AS close,
       count(*)                                         AS n
FROM e GROUP BY bucket_s
"""


@register(
    "ts_ohlc_hourly",
    oracle="""
WITH e AS (
  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s,
         ts, event_id, value,
         row_number() OVER (PARTITION BY epoch_ns(ts) // 3600000000000
                            ORDER BY ts, event_id)       AS rn_f,
         row_number() OVER (PARTITION BY epoch_ns(ts) // 3600000000000
                            ORDER BY ts DESC, event_id DESC) AS rn_l
  FROM events
)
SELECT bucket_s,
       round(max(CASE WHEN rn_f = 1 THEN value END), 2) AS open,
       round(max(value), 2)                             AS high,
       round(min(value), 2)                             AS low,
       round(max(CASE WHEN rn_l = 1 THEN value END), 2) AS close,
       count(*)                                         AS n
FROM e GROUP BY bucket_s
""",
)
def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(_OHLC_SPARK)


# --------------------------------------------------------------------------
# Bounded range join: every click within the 5 minutes BEFORE a purchase
# (same user) — interval containment, not as-of nearest. Scale: equi-key
# (user_id) sort-merge join with the range as a join-time predicate; never
# a cartesian — the equi key bounds the pair space, AQE splits hot users.
# --------------------------------------------------------------------------
_RANGE_SPARK = """
SELECT p.event_id,
       p.user_id,
       count(c.ts)                            AS clicks_5m,
       round(coalesce(sum(c.value), 0), 2)    AS click_value_5m
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - 300000000000
 AND c.ts <= p.ts
GROUP BY p.event_id, p.user_id
"""


@register(
    "ts_range_join_window",
    oracle="""
SELECT p.event_id,
       p.user_id,
       count(c.ts)                          AS clicks_5m,
       round(coalesce(sum(c.value), 0), 2)  AS click_value_5m
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 5 MINUTE
 AND c.ts <= p.ts
GROUP BY p.event_id, p.user_id
""",
)
def ts_range_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(_RANGE_SPARK)
