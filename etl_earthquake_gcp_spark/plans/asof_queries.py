"""As-of join query: purchases ← most recent prior click per user.

The oracle mirrors the union-sort construction (not DuckDB's native ASOF
JOIN) so tie semantics are pinned identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join, asof_nearest_join
from ..sources.tables import load_table
from .registry import register

_NEAREST_TOL_MS = 30 * 60 * 1000  # 30 minutes

_ASOF_ORACLE = """
        WITH p AS (
            SELECT event_id, user_id, epoch_ms(ts) AS t, 1 AS is_left,
                   CAST(NULL AS BIGINT) AS click_id,
                   CAST(NULL AS DOUBLE) AS click_value
            FROM events WHERE event_type = 'purchase'
        ), c AS (
            SELECT CAST(NULL AS BIGINT), user_id, epoch_ms(ts), 0,
                   event_id, value
            FROM events WHERE event_type = 'click'
        ), u AS (
            SELECT * FROM p UNION ALL SELECT * FROM c
        ), filled AS (
            SELECT event_id, user_id, t, is_left,
                   last_value(click_id IGNORE NULLS) OVER w AS asof_click_id,
                   last_value(click_value IGNORE NULLS) OVER w AS asof_click_value
            FROM u
            WINDOW w AS (
                PARTITION BY user_id
                ORDER BY t, is_left, click_id NULLS LAST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        )
        SELECT event_id, user_id, t AS t_ms,
               coalesce(asof_click_id, -1) AS asof_click_id,
               coalesce(asof_click_value, -1.0) AS asof_click_value
        FROM filled WHERE is_left = 1
"""


def _purchases_and_clicks(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").withColumn("t_ms", F.unix_millis("ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_ms"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "t_ms",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    return purchases, clicks


@register(
    "asof_purchase_prior_click",
    oracle=_ASOF_ORACLE,
    doc="as-of (point-in-time) join via operators/asof.py: every purchase "
    "event gets the same user's latest click at-or-before it. Union-sort "
    "plan — one shuffle+sort of |L|+|R| rows, no theta-join explosion; "
    "sentinel -1 for purchases with no prior click.",
    bench=True,
)
def asof_purchase_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        time_col="t_ms",
        right_value_cols=["click_id", "click_value"],
        tie_col="click_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "t_ms",
        F.coalesce("asof_click_id", F.lit(-1)).alias("asof_click_id"),
        F.coalesce("asof_click_value", F.lit(-1.0)).alias("asof_click_value"),
    )


@register(
    "asof_cogroup_pandas",
    oracle=_ASOF_ORACLE,  # identical semantics to the union-sort operator
    doc="the same as-of join via cogrouped applyInPandas: both sides "
    "co-partition on user_id, each group pair runs pandas.merge_asof "
    "(backward, exact matches allowed). Two shuffles (one per side) vs the "
    "union-sort's one, but the per-group merge is a linear two-pointer pass "
    "— the right trade when per-key logic outgrows window expressions. "
    "Shared oracle certifies both operators agree.",
)
def asof_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # Both sides come from one events scan and share attribute ids, so the
    # cogroup's UDF binds the right side's arguments to the LEFT side's ids;
    # column pruning under any projection above (count(), hash
    # materialization) then drops the right side's t_ms. Fresh aliases give
    # each side ids of its own.
    purchases, clicks = (
        df.select(*[F.col(c).alias(c) for c in df.columns])
        for df in _purchases_and_clicks(spark, sf_dir)
    )

    out_schema = (
        "event_id long, user_id long, t_ms long, "
        "asof_click_id long, asof_click_value double"
    )

    def merge_asof_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=[
                    "event_id", "user_id", "t_ms", "asof_click_id", "asof_click_value",
                ]
            )
        left = left.sort_values("t_ms")
        # equal-t clicks: merge_asof picks the LAST right row → sort by
        # (t_ms, click_id) so max click_id wins, matching the oracle
        right = right.sort_values(["t_ms", "click_id"])
        merged = pd.merge_asof(
            left, right[["t_ms", "click_id", "click_value"]], on="t_ms",
            direction="backward",
        )
        return pd.DataFrame(
            {
                "event_id": merged["event_id"],
                "user_id": merged["user_id"],
                "t_ms": merged["t_ms"],
                "asof_click_id": merged["click_id"].fillna(-1).astype("int64"),
                "asof_click_value": merged["click_value"].fillna(-1.0),
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(merge_asof_group, schema=out_schema)
    )


@register(
    "asof_nearest_click",
    oracle=f"""
        WITH p AS (
            SELECT event_id, user_id, epoch_ms(ts) AS t, 1 AS is_left,
                   CAST(NULL AS BIGINT) AS tie, CAST(NULL AS BIGINT) AS rt,
                   CAST(NULL AS BIGINT) AS v_id, CAST(NULL AS DOUBLE) AS v_val
            FROM events WHERE event_type = 'purchase'
        ), c AS (
            SELECT CAST(NULL AS BIGINT), user_id, epoch_ms(ts), 0,
                   event_id, epoch_ms(ts), event_id, value
            FROM events WHERE event_type = 'click'
        ), u AS (
            SELECT * FROM p UNION ALL SELECT * FROM c
        ), filled AS (
            SELECT event_id, user_id, t, is_left,
                   last_value(rt IGNORE NULLS) OVER wb AS prev_t,
                   first_value(rt IGNORE NULLS) OVER wf AS next_t,
                   last_value(v_id IGNORE NULLS) OVER wb AS prev_id,
                   first_value(v_id IGNORE NULLS) OVER wf AS next_id,
                   last_value(v_val IGNORE NULLS) OVER wb AS prev_val,
                   first_value(v_val IGNORE NULLS) OVER wf AS next_val
            FROM u
            WINDOW wb AS (
                PARTITION BY user_id ORDER BY t, is_left, tie NULLS LAST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wf AS (
                PARTITION BY user_id ORDER BY t, is_left, tie NULLS LAST
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ), chosen AS (
            SELECT *,
                   prev_t IS NOT NULL AND t - prev_t <= {_NEAREST_TOL_MS}
                       AS prev_ok,
                   next_t IS NOT NULL AND next_t - t <= {_NEAREST_TOL_MS}
                       AS next_ok
            FROM filled WHERE is_left = 1
        )
        SELECT event_id, user_id, t AS t_ms,
               CAST(CASE
                   WHEN prev_ok AND (NOT next_ok OR t - prev_t <= next_t - t)
                       THEN prev_id
                   WHEN next_ok THEN next_id ELSE -1 END AS BIGINT)
                   AS nearest_click_id,
               CASE
                   WHEN prev_ok AND (NOT next_ok OR t - prev_t <= next_t - t)
                       THEN prev_val
                   WHEN next_ok THEN next_val ELSE -1.0 END
                   AS nearest_click_value,
               CAST(CASE
                   WHEN prev_ok AND (NOT next_ok OR t - prev_t <= next_t - t)
                       THEN t - prev_t
                   WHEN next_ok THEN next_t - t ELSE -1 END AS BIGINT)
                   AS nearest_dist_ms,
               CASE
                   WHEN prev_ok AND (NOT next_ok OR t - prev_t <= next_t - t)
                       THEN 'prev'
                   WHEN next_ok THEN 'next' ELSE 'none' END AS nearest_dir
        FROM chosen
    """,
    doc="nearest-in-time as-of variant (operators/asof.py asof_nearest_join): "
    "each purchase matches the temporally CLOSEST click of the same user "
    "within ±30 min — backward or forward, exact ties prefer backward. One "
    "union-sort pass serves both directions (the running-last and "
    "running-first windows share one Exchange+Sort) — still a linear merge "
    "at 100 TB, never a theta-join. Oracle mirrors the same window "
    "construction; sentinels -1/'none' keep compared frames NULL-free.",
    bench=True,
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    joined = asof_nearest_join(
        purchases,
        clicks,
        key="user_id",
        time_col="t_ms",
        right_value_cols=["click_id", "click_value"],
        tie_col="click_id",
        tolerance_ms=_NEAREST_TOL_MS,
    )
    return joined.select(
        "event_id",
        "user_id",
        "t_ms",
        F.coalesce("nearest_click_id", F.lit(-1)).alias("nearest_click_id"),
        F.coalesce("nearest_click_value", F.lit(-1.0)).alias("nearest_click_value"),
        F.coalesce("nearest_dist_ms", F.lit(-1)).alias("nearest_dist_ms"),
        "nearest_dir",
    )
