"""Sessionization over event streams/tables (engine extension; the
reference has no time semantics at all — SURVEY.md §2.3 "Streaming:
none").

``user_sessions`` groups each user's events into gap-bounded sessions
with the built-in ``session_window`` — the idiomatic Spark form, one
shuffle on (user_id), state merged by the aggregation itself. The SAME
expression works batch and streaming (streaming adds a watermark for
state eviction; see streaming/queries.py:streaming_user_sessions).

Session semantics (Spark's, mirrored exactly by the DuckDB oracle in
__spark_entry__.py): a session is [first_ts, last_ts + gap); an event
at t extends a session iff t < current_end, so a gap of exactly
``gap`` starts a NEW session (windows are end-exclusive).

Scale: sessionization at 100 TB is one hash shuffle on user_id with
map-side partial merging of overlapping windows; no window function,
no self-join, no per-user sort on the full table (Spark sorts within
partitions during the session merge — bounded by partition size, spill
-aware).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def user_sessions(events: DataFrame) -> DataFrame:
    """Gap-based sessions per user (30-minute gap):
    ``(user_id, session_start, session_end, n_events, value_sum)``.

    ``session_end`` is last event + gap (Spark session_window
    semantics). ``value_sum`` goes through decimal(18,6) so the sum is
    order-independent and oracle-exact (same policy as events_hourly).
    """
    w = F.session_window(F.col("ts"), "30 minutes")
    return (
        events.groupBy(F.col("user_id"), w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def event_funnel(events, steps: list[str], within_hours: int = 24):
    """FIRST-TOUCH funnel analysis: for each user, the funnel anchored
    at their EARLIEST ``steps[0]`` event — every later step must happen
    strictly after the previous one and inside ``within_hours`` of the
    anchor. Returns ``(user_id, t1, t2, ..., reached)`` with NULL
    timestamps from the first missed step on and ``reached`` = number
    of completed steps. Given the fixed anchor, greedy matching
    (min(t_k) at each step) is optimal — an earlier t_k only leaves
    more of the window for step k+1 — so the result is deterministic
    and well-defined. (A later anchor could sometimes complete when
    the first-touch one does not; first-touch is the standard
    attribution choice and the one this operator implements.)

    Scale shape: one filtered aggregation per step, each joining the
    (one-row-per-user) previous frontier back to the pruned event scan
    — the per-step frontier is vertex-sized, never event-sized, and
    the event side is filtered to ONE type before the join (pushed to
    the scan). No windows, no per-user event collection; step count is
    the only multiplier.
    """
    from pyspark.sql import functions as F

    if not steps:
        raise ValueError("steps must be non-empty")
    out = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col("event_type") == step)
            .select("user_id", F.col("ts").alias("__ts"))
            .join(out, "user_id")
            .filter(
                (F.col("__ts") > F.col(f"t{i - 1}"))
                & (
                    F.col("__ts")
                    <= F.col("t1") + F.expr(f"INTERVAL {int(within_hours)} HOURS")
                )
            )
            .groupBy("user_id")
            .agg(F.min("__ts").alias(f"t{i}"))
        )
        out = out.join(nxt, "user_id", "left")
    reached = sum(
        [
            F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
            for i in range(1, len(steps) + 1)
        ],
        F.lit(0),
    )
    return out.select(
        "user_id",
        *[F.col(f"t{i}") for i in range(1, len(steps) + 1)],
        reached.cast("int").alias("reached"),
    )
