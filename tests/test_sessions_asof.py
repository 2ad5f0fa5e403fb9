"""Edge-semantics tests: session gap boundaries, as-of ties and misses."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_earthquake_gcp_spark.operators.asof import asof_join
from etl_earthquake_gcp_spark.operators.sessions import (
    SESSION_GAP_MS,
    session_window_agg,
    sessionize,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _protobuf_ok() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_sessionize_tws_matches_state_v1(spark):
    """State-v2 (transformWithStateInPandas) must equal state-v1 — runs only
    where google.protobuf works (the v2 state-server protocol needs it)."""
    import pytest

    if not _protobuf_ok():
        pytest.skip("google.protobuf broken in this container (state v2 needs it)")
    from etl_earthquake_gcp_spark.streaming.jobs import (
        stream_sessionize_state,
        stream_sessionize_tws,
    )

    from .conftest import SF_DIR

    cols = ["user_id", "session_start_ms", "session_end_ms", "n_events"]
    v1 = {tuple(r[c] for c in cols) for r in stream_sessionize_state(spark, SF_DIR).collect()}
    v2 = {tuple(r[c] for c in cols) for r in stream_sessionize_tws(spark, SF_DIR).collect()}
    assert v1 == v2


def _events(spark, rows):
    """rows: (event_id, user_id, offset_ms, value)"""
    return spark.createDataFrame(
        [
            (eid, uid, T0 + dt.timedelta(milliseconds=off), float(v))
            for eid, uid, off, v in rows
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )


def test_exact_gap_starts_new_session(spark):
    df = _events(
        spark,
        [
            (1, 7, 0, 1.0),
            (2, 7, SESSION_GAP_MS - 1, 2.0),  # merges (gap-1 < gap)
            (3, 7, 2 * SESSION_GAP_MS - 1, 3.0),  # exactly gap later → NEW
        ],
    )
    got = {
        r.session_id: (r.n_events, r.total_value)
        for r in sessionize(df).collect()
    }
    assert got == {1: (2, 3.0), 2: (1, 3.0)}


def test_sessionize_matches_builtin_session_window(spark):
    rows = [
        (i, uid, (i * 7919) % (3 * SESSION_GAP_MS), float(i % 5))
        for i in range(60)
        for uid in (1, 2)
    ]
    df = _events(spark, [(i * 2 + uid, uid, off, v) for (i, uid, off, v) in rows])
    ours = {
        (r.user_id, r.session_start, r.n_events, r.total_value)
        for r in sessionize(df).collect()
    }
    builtin = {
        (r.user_id, r.session_start, r.n_events, r.total_value)
        for r in session_window_agg(df).collect()
    }
    assert ours == builtin


def test_asof_basic_tie_and_miss(spark):
    left = spark.createDataFrame(
        [(100, 1, 1000), (101, 1, 500), (102, 2, 1000)],
        "event_id long, user_id long, t_ms long",
    )
    right = spark.createDataFrame(
        [
            (1, 400, 10, 1.0),
            (1, 1000, 11, 2.0),  # same instant as event 100 → included
            (1, 1000, 12, 3.0),  # equal-t tie → max click_id wins
            (2, 1001, 13, 4.0),  # after user 2's event → excluded
        ],
        "user_id long, t_ms long, click_id long, click_value double",
    )
    out = {
        r.event_id: (r.asof_click_id, r.asof_click_value)
        for r in asof_join(
            left, right, "user_id", "t_ms", ["click_id", "click_value"], "click_id"
        ).collect()
    }
    assert out[100] == (12, 3.0)  # at-or-before + tie-break max
    assert out[101] == (10, 1.0)  # strictly earlier right row
    assert out[102] == (None, None)  # no prior right row → nulls


def test_asof_single_shuffle_plan(spark):
    left = spark.range(10).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).alias("user_id"),
        (F.col("id") * 100).alias("t_ms"),
    )
    right = spark.range(10).select(
        (F.col("id") % 3).alias("user_id"),
        (F.col("id") * 90).alias("t_ms"),
        F.col("id").alias("click_id"),
    )
    plan = (
        asof_join(left, right, "user_id", "t_ms", ["click_id"], "click_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_asof_null_value_column_stays_on_same_row(spark):
    """A NULL in one right value column must NOT fall back to an older
    right row while sibling columns come from the newer one (the struct
    fill guarantees one coherent right row per match)."""
    left = spark.createDataFrame(
        [(100, 1, 2000)], "event_id long, user_id long, t_ms long"
    )
    right = spark.createDataFrame(
        [
            (1, 500, 10, 1.0),
            (1, 1000, 11, None),  # newest match carries NULL click_value
        ],
        "user_id long, t_ms long, click_id long, click_value double",
    )
    row = asof_join(
        left, right, "user_id", "t_ms", ["click_id", "click_value"], "click_id"
    ).collect()[0]
    # both columns from the t=1000 row: value NULL, NOT 1.0 from t=500
    assert (row.asof_click_id, row.asof_click_value) == (11, None)


def test_asof_nearest_null_value_column_same_row(spark):
    from etl_earthquake_gcp_spark.operators.asof import asof_nearest_join

    left = spark.createDataFrame(
        [(100, 1, 2000)], "event_id long, user_id long, t_ms long"
    )
    right = spark.createDataFrame(
        [(1, 500, 10, 1.0), (1, 1900, 11, None)],
        "user_id long, t_ms long, click_id long, click_value double",
    )
    row = asof_nearest_join(
        left, right, "user_id", "t_ms", ["click_id", "click_value"],
        "click_id", tolerance_ms=10_000,
    ).collect()[0]
    assert (row.nearest_click_id, row.nearest_click_value) == (11, None)
    assert row.nearest_dist_ms == 100 and row.nearest_dir == "prev"


def _hash_and_count(df):
    """bench.py's materialization with a row count in the same aggregate."""
    row = df.select(F.xxhash64(F.struct(*df.columns)).alias("h")).agg(
        F.expr("bit_xor(h)").alias("x"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return row["x"], row["n"]


def test_actions_agree_on_rows(spark):
    """toPandas, count(), hash materialization and a noop write must see
    the same frame. The cogroup as-of query once failed under count() and
    hash materialization (column pruning dropped the right side's t_ms);
    its hash must also equal the union-sort query's, which shares its
    oracle and output schema."""
    from bench import materialize
    from etl_earthquake_gcp_spark.plans import QUERIES

    from .conftest import SF_DIR

    hashes = {}
    for name in (
        "asof_cogroup_pandas",
        "asof_purchase_prior_click",
        "pricing_summary",
        "latest_event_dedup",
    ):
        def build():
            return QUERIES[name].spark_fn(spark, SF_DIR)

        n = len(build().toPandas())
        assert n > 0, name
        assert build().count() == n, name
        materialize(build())
        hashes[name], n_hashed = _hash_and_count(build())
        assert n_hashed == n, name
        build().write.format("noop").mode("overwrite").save()
    assert hashes["asof_cogroup_pandas"] == hashes["asof_purchase_prior_click"]
