"""Unit tests for operators/joins.py (as-of + interval joins).

Golden expectations are hand-computed on tiny frames; the sf-scale
oracle parity (vs DuckDB's native ASOF JOIN) lives in
test_oracle_parity.py via the asof_clicks / signup_followups queries.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark.operators.joins import (
    asof_join,
    interval_agg_join,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute, 0)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, "k1", _ts(10)), (2, "k1", _ts(30)), (3, "k2", _ts(5)), (4, "k3", _ts(7))],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts(0), 100.0),
            ("k1", _ts(10), 110.0),  # equal-ts: inclusive backward match for id=1
            ("k1", _ts(20), 120.0),
            ("k2", _ts(9), 200.0),  # after k2's only left row
        ],
        "k string, ts timestamp, px double",
    )
    return left, right


def test_asof_backward_inclusive(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="k", suffix="_r").orderBy("id").collect()
    assert [(r.id, r.px_r) for r in out] == [
        (1, 110.0),  # ts(10) matches the equal-ts right row
        (2, 120.0),  # latest at-or-before ts(30)
        (3, None),  # k2's right row is later
        (4, None),  # k3 has no right rows at all
    ]
    assert out[0].ts_r == _ts(10) and out[1].ts_r == _ts(20)


def test_asof_tolerance_voids_stale_matches(spark):
    left, right = _frames(spark)
    out = (
        asof_join(left, right, on="k", tolerance_seconds=5 * 60, suffix="_r")
        .orderBy("id")
        .collect()
    )
    # id=2's best match is 10 minutes old -> voided; id=1's is 0s old
    assert [(r.id, r.px_r) for r in out] == [
        (1, 110.0),
        (2, None),
        (3, None),
        (4, None),
    ]


def test_asof_empty_right_keeps_left(spark):
    left, right = _frames(spark)
    out = asof_join(left, right.limit(0), on="k", suffix="_r")
    rows = out.orderBy("id").collect()
    assert len(rows) == 4 and all(r.px_r is None for r in rows)
    assert [r.id for r in rows] == [1, 2, 3, 4]


def test_asof_equal_ts_ties_resolve_deterministically(spark):
    left = spark.createDataFrame([(1, "k", _ts(10))], "id long, k string, ts timestamp")
    right = spark.createDataFrame(
        [("k", _ts(10), 1.0), ("k", _ts(10), 2.0), ("k", _ts(10), 3.0)],
        "k string, ts timestamp, px double",
    )
    picks = {
        asof_join(left, right, on="k", suffix="_r").collect()[0].px_r
        for _ in range(3)
    }
    assert len(picks) == 1  # same winner every run (content-hash tiebreak)


def test_interval_agg_join_counts_window(spark):
    left = spark.createDataFrame(
        [(1, "k1", _ts(0)), (2, "k2", _ts(0))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts(0), 1.0),  # NOT counted: strictly-after lower bound
            ("k1", _ts(30), 2.0),  # counted (within 1h)
            ("k1", dt.datetime(2024, 1, 1, 13, 0, 0), 4.0),  # counted: inclusive bound
            ("k1", dt.datetime(2024, 1, 1, 13, 0, 1), 8.0),  # outside
        ],
        "k string, ts timestamp, v double",
    )
    out = (
        interval_agg_join(
            left,
            right,
            on="k",
            aggs=[
                F.count(F.col("ts_r")).alias("n"),
                F.sum("v_r").alias("vs"),
            ],
        )
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.n, r.vs) for r in out] == [(1, 2, 6.0), (2, 0, None)]


def test_asof_null_right_ts_never_matches(spark):
    left = spark.createDataFrame([(1, "k", _ts(5))], "id long, k string, ts timestamp")
    right = spark.createDataFrame(
        [("k", None, 99.0), ("k", _ts(10), 1.0)],
        "k string, ts timestamp, px double",
    )
    out = asof_join(left, right, on="k", suffix="_r").collect()
    # the NULL-ts row must not become a phantom match; ts(10) is after
    assert out[0].px_r is None and out[0].ts_r is None


class TestRetentionAndRollingActives:
    """relational.retention_cohorts / rolling_active_users."""

    def test_retention_cohorts_tiny(self, spark):
        import datetime as dt

        from pagerank_mapreduce_implementation_spark.operators import relational

        t = lambda d, u: (u * 100 + d, dt.datetime(2024, 1, d), u, "view", 1.0, "{}")
        # u1 first on d1, returns d3 (offset 0) and d9 (offset 1);
        # u2 first on d2, never returns
        rows = [t(1, 1), t(3, 1), t(9, 1), t(3, 1), t(2, 2)]
        ev = spark.createDataFrame(
            rows,
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
        )
        got = {
            (str(r["cohort_day"]), r["week_offset"]): r["n_users"]
            for r in relational.retention_cohorts(ev).collect()
        }
        assert got == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 1): 1,
            ("2024-01-02", 0): 1,
        }

    def test_rolling_active_users_tiny(self, spark):
        import datetime as dt

        from pagerank_mapreduce_implementation_spark.operators import relational

        t = lambda d, u: (u * 100 + d, dt.datetime(2024, 1, d), u, "view", 1.0, "{}")
        # u1 active d1; u2 active d1 and d8; observed days: d1, d8.
        # d1 trailing-7 = {u1, u2}; d8 trailing-7 = {u2} (d1 is 7 days
        # before d8 — outside the [d-6, d] window... d8-6 = d2, so d1
        # excluded).
        rows = [t(1, 1), t(1, 2), t(8, 2)]
        ev = spark.createDataFrame(
            rows,
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
        )
        got = {
            str(r["day"]): r["rolling_users"]
            for r in relational.rolling_active_users(ev).collect()
        }
        assert got == {"2024-01-01": 2, "2024-01-08": 1}

    def test_rolling_window_guard(self, spark):
        import pytest

        from pagerank_mapreduce_implementation_spark.operators import relational

        ev = spark.createDataFrame([], "ts TIMESTAMP, user_id LONG")
        with pytest.raises(ValueError, match="positive"):
            relational.rolling_active_users(ev, window_days=0)
