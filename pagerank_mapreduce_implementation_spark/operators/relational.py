"""Relational operator coverage: scan/filter/project/join/agg/sort/limit.

The reference's relational surface is implicit (SURVEY.md §2.3: filters
are string predicates, joins are hand-rolled tagged shuffles, aggs are
single-level groupBys, sorts are single-reducer). These queries exercise
the same operator *categories* on the engine's native star schema, the
Spark-first way: declarative plans Catalyst optimizes — predicate
pushdown into the parquet scan, column pruning, broadcast joins for the
small dimensions, partial aggregation, range-partitioned parallel sort.

Oracle-determinism note: double-valued SUM/AVG are floating-point
order-dependent — Spark and the DuckDB oracle would sum in different
orders and hash-differ. Money-style aggregates therefore sum
``decimal(18,6)``-cast per-row values (the per-row expression is
computed in IEEE double — bit-identical across engines — then cast;
decimal summation is exact and order-independent), and only the final
scalar converts back to double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dsum(expr: Column) -> Column:
    """Order-independent sum of a double expression (see module note)."""
    return F.round(F.sum(expr.cast(DEC)).cast("double"), 2)


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """Filter → groupBy → multi-agg → sort (TPC-H Q1 shape).

    The shipdate predicate pushes down to the parquet scan; the groupBy
    on two low-cardinality keys gets map-side partial aggregation.
    """
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") < F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            # exact decimal sum → double FIRST, then double division:
            # decimal/int division scale rules differ between engines,
            # double division of identical inputs is IEEE-identical.
            F.round(F.sum(F.col("l_quantity").cast(DEC)).cast("double") / cnt, 6).alias(
                "avg_qty"
            ),
            F.round(
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / cnt, 6
            ).alias("avg_price"),
            F.round(F.sum(F.col("l_discount").cast(DEC)).cast("double") / cnt, 6).alias(
                "avg_disc"
            ),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_customers_by_revenue(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """3-way join → agg → top-k. lineitem⋈orders shuffles on orderkey;
    the customer dim joins broadcast (small side). ``limit 10`` after the
    sort plans TakeOrderedAndProject — no full global sort."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    revenue = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(disc_price).alias("revenue"))
    )
    return (
        revenue.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def nation_order_stats(
    customer: DataFrame, orders: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Snowflake join through two broadcast dims → agg → sort.

    region→nation→customer are all tiny: the dim joins broadcast, so
    the only shuffle is the final groupBy.
    """
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("r_name", "n_name")
    )


def nation_year_rollup(
    customer: DataFrame, orders: DataFrame, nation: DataFrame
) -> DataFrame:
    """Multi-level aggregation via ROLLUP (engine extension — the
    reference has only single-level groupBy, SURVEY.md §2.3): order
    totals at (nation, year), per-nation subtotal, and grand total in
    ONE aggregation pass. Spark plans rollup as a single Expand +
    hash-agg — no per-level re-scan of the fact table, which at 100 TB
    is the difference between 1 and |levels| passes. NULL marks the
    rolled-up levels (standard SQL semantics, same in the oracle)."""
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.year("o_orderdate").cast("long").alias("o_year"),
            "o_totalprice",
        )
        .rollup("n_name", "o_year")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


def lineitem_cube(lineitem: DataFrame) -> DataFrame:
    """Full CUBE over (returnflag, linestatus): every grouping-set
    combination — both dims, each dim alone, grand total — in ONE
    Expand + hash-agg pass (the GROUPING SETS sibling of
    ``nation_year_rollup``; at 100 TB one pass vs 2^dims re-scans).
    NULL marks the aggregated-away level, standard SQL semantics."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.select("l_returnflag", "l_linestatus", "l_extendedprice", "l_discount")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(disc_price).alias("revenue"),
        )
    )


def brand_revenue(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Fact-to-dimension join → agg → sort over the ``part`` table:
    revenue and volume per brand. The part dim broadcasts (small side);
    the scan reads only the three lineitem columns the query needs —
    the canonical star-schema rollup shape."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.select("l_partkey", "l_extendedprice", "l_discount")
        .join(part.select("p_partkey", "p_brand"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(disc_price).alias("revenue"),
        )
        .orderBy("p_brand")
    )


def supplier_nation_revenue(
    supplier: DataFrame, nation: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Two-dimension chain join over the ``supplier`` table: revenue
    per supplier nation. Both dims broadcast; the fact table never
    shuffles."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(nation.select("n_nationkey", "n_name"), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(disc_price).alias("revenue"),
        )
        .orderBy("n_name")
    )


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Semi-join (EXISTS) → agg → sort: orders with at least one
    deeply-discounted lineitem, counted by priority. left_semi avoids
    materializing the join product (TPC-H Q4 shape); the discount
    predicate pushes into the lineitem scan."""
    discounted = lineitem.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return (
        orders.join(discounted, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
        .orderBy("o_orderpriority")
    )


def order_priority_clean_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Anti-join (NOT EXISTS) → agg → sort: orders with NO
    deeply-discounted lineitem, counted by priority — the complement of
    ``order_priority_counts`` and the anti-join planning surface
    (left_anti streams the probe side against the discounted-key build
    side; no join product, the discount predicate pushes into the
    lineitem scan)."""
    discounted = lineitem.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return (
        orders.join(discounted, F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
        .orderBy("o_orderpriority")
    )


def customer_order_counts(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT OUTER join surface (absent from the reference — its only
    join engine is the tagged shuffle, SURVEY.md §2.3): every customer
    with their order count, zero included.

    The count side is pre-aggregated BEFORE the join — at 100 TB you
    join |customers| rows against |customers| counts instead of
    exploding customers x orders and re-grouping; the aggregated side
    is also the broadcast candidate.
    """
    cnt = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return customer.select("c_custkey", "c_name", "c_nationkey").join(
        cnt, "c_custkey", "left"
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
    )


def repeat_error_users(events: DataFrame) -> DataFrame:
    """Set-operation surface (none in the reference, SURVEY.md §2.3):
    users who both purchased AND hit an error. INTERSECT plans as a
    distinct-aggregate semi-join — one shuffle per side, no row
    explosion."""
    purchasers = events.filter(F.col("event_type") == "purchase").select("user_id")
    erroring = events.filter(F.col("event_type") == "error").select("user_id")
    return purchasers.intersect(erroring)


def window_shoppers(events: DataFrame) -> DataFrame:
    """EXCEPT set-op surface: (user, day) pairs that viewed but did
    NOT purchase that day — ``subtract`` is SQL EXCEPT (distinct anti
    semantics), planned as a distinct aggregate + left-anti join; the
    complement of the INTERSECT query above. Keyed at user-DAY grain
    (a plain user EXCEPT is empty on corpora where every heavy user
    eventually purchases — the day key is what a real funnel query
    uses anyway)."""
    def pairs(event_type: str) -> DataFrame:
        return events.filter(F.col("event_type") == event_type).select(
            "user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )

    return pairs("view").subtract(pairs("purchase"))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix → ``(cohort_day, week_offset,
    n_users)``: users bucketed by the day of their FIRST event,
    counted once per 7-day offset bucket they return in
    — the standard activation/retention read over an event log.

    Plan: one user-keyed aggregate for first-touch (map-side
    partials), a user-keyed join back (co-partitioned — the join key
    is the aggregate's own grouping key, so the exchange is reused),
    then a distinct + count on the (cohort, offset, user) triple.
    Nothing wider than (users x active offset buckets) ever
    materializes; no window functions."""
    first = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    return (
        events.select("user_id", F.to_date("ts").alias("day"))
        .join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.datediff("day", "cohort_day") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-``window_days`` distinct active users per calendar day
    → ``(day, rolling_users)`` — the classic sliding-window distinct
    (7-day actives), which naive SQL writes as a per-day self-join
    over the whole log.

    Plan: collapse to distinct (user, day) FIRST (one shuffle —
    events per user-day collapse before any widening), then each
    user-day contributes to its ``window_days`` report days via a
    bounded ``sequence`` explode (fan-out = window width, a plan
    constant, not data), count-distinct per report day, and keep only
    days that actually occur in the log (the explode's horizon tail
    is joined away against the distinct-days dim). No self-join over
    the log, no per-day rescan."""
    if window_days <= 0:
        raise ValueError(f"window_days ({window_days}) must be positive")
    user_days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = user_days.select("day").distinct()
    contributions = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add("day", window_days - 1)
            )
        ).alias("report_day"),
    )
    return (
        contributions.join(
            days.withColumnRenamed("day", "report_day"), "report_day"
        )
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("rolling_users"))
        .withColumnRenamed("report_day", "day")
    )


def pricing_grouping_sets(lineitem: DataFrame) -> DataFrame:
    """Arbitrary GROUPING SETS — the member of the multi-level-agg
    family CUBE (``lineitem_cube``) and ROLLUP (``nation_year_rollup``)
    cannot express: two unrelated pivots, ``(returnflag, linestatus)``
    and ``(returnflag, ship year)``, plus the grand total, in ONE
    Expand + hash-agg pass over the fact table. A cube over the three
    dims would pay 2^3 grouping sets (and emit combinations nobody
    asked for); re-scanning per pivot pays |sets| passes — at 100 TB
    this operator is the difference. NULL marks the aggregated-away
    columns, standard SQL semantics, same in the oracle."""
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        lineitem.select(
            "l_returnflag",
            "l_linestatus",
            F.year("l_shipdate").cast("long").alias("ship_year"),
            "l_extendedprice",
            "l_discount",
        )
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag", "ship_year"], []],
            "l_returnflag",
            "l_linestatus",
            "ship_year",
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(disc_price).alias("revenue"),
        )
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Generic column profile — one row per profiled column:
    ``(col_name, n_rows, n_nulls, n_distinct, min_value, max_value)``
    with min/max rendered as strings — the data-quality sweep a
    pipeline runs on every new table drop (nulls creeping in, key
    cardinality drift, out-of-range values).

    ONE aggregation pass over the scan regardless of how many columns
    are profiled: all per-column statistics are expressions of a single
    ``agg``, and the wide 1-row result is reshaped to long form by an
    ``explode`` of plan-time structs (no second scan, no union of
    per-column jobs). min/max are computed in the column's native type
    and cast to string AFTER aggregating, so ordering is typed, not
    lexicographic.

    ``exact`` controls distinct counting: ``True`` uses
    ``count(DISTINCT col)`` — Spark plans one EXPAND over the scan
    (rows x profiled-columns intermediates), the audit/oracle
    configuration — while ``False`` uses ``approx_count_distinct``
    (HLL++, one pass, no expand), the 100 TB default where a +-2%
    cardinality estimate is what profiling needs.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")
    if not cols:
        raise ValueError("profile_table: no columns to profile")
    distinct = (
        (lambda c: F.count_distinct(F.col(c)))
        if exact
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.col(c)).alias(f"__nn{i}"),
            distinct(c).alias(f"__d{i}"),
            F.min(F.col(c)).cast("string").alias(f"__mn{i}"),
            F.max(F.col(c)).cast("string").alias(f"__mx{i}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn{i}")).alias("n_nulls"),
                F.col(f"__d{i}").alias("n_distinct"),
                F.col(f"__mn{i}").alias("min_value"),
                F.col(f"__mx{i}").alias("max_value"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def profile_drift(
    old: DataFrame,
    new: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """Snapshot-to-snapshot drift report — one row per profiled column:
    ``(col_name, n_rows_old, n_rows_new, n_nulls_old, n_nulls_new,
    n_distinct_old, n_distinct_new, null_rate_delta, range_changed)``
    — the check a pipeline runs when a new table drop replaces last
    week's (nulls creeping in, cardinality collapse, value range
    drift) before any downstream job trusts it.

    Two exact ``profile_table`` passes (one agg scan each) joined on
    the column name — a ~column-count-sized join, so
    the comparison itself is free at any table size.
    ``null_rate_delta`` is rounded 6 (cross-engine-exact);
    ``range_changed`` flags any min/max string change.
    """
    cols = list(columns) if columns is not None else list(old.columns)
    missing = [c for c in cols if c not in new.columns]
    if missing:
        raise ValueError(f"profile_drift: columns missing from new: {missing}")
    po = profile_table(old, cols)
    pn = profile_table(new, cols)
    o = po.select(
        "col_name",
        F.col("n_rows").alias("n_rows_old"),
        F.col("n_nulls").alias("n_nulls_old"),
        F.col("n_distinct").alias("n_distinct_old"),
        F.col("min_value").alias("__mno"),
        F.col("max_value").alias("__mxo"),
    )
    nw = pn.select(
        "col_name",
        F.col("n_rows").alias("n_rows_new"),
        F.col("n_nulls").alias("n_nulls_new"),
        F.col("n_distinct").alias("n_distinct_new"),
        F.col("min_value").alias("__mnn"),
        F.col("max_value").alias("__mxn"),
    )
    rate = lambda nulls, rows: F.when(  # noqa: E731
        rows > 0, nulls.cast("double") / rows.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        o.join(nw, "col_name")
        .select(
            "col_name",
            "n_rows_old",
            "n_rows_new",
            "n_nulls_old",
            "n_nulls_new",
            "n_distinct_old",
            "n_distinct_new",
            F.round(
                rate(F.col("n_nulls_new"), F.col("n_rows_new"))
                - rate(F.col("n_nulls_old"), F.col("n_rows_old")),
                6,
            ).alias("null_rate_delta"),
            (
                ~(F.col("__mno").eqNullSafe(F.col("__mnn")))
                | ~(F.col("__mxo").eqNullSafe(F.col("__mxn")))
            ).alias("range_changed"),
        )
    )


def profile_drift_where(
    df: DataFrame,
    old_where: Column,
    columns: list[str] | None = None,
) -> DataFrame:
    """ONE-SCAN ``profile_drift`` for the snapshot shape where OLD is
    a predicate-slice of NEW's own table (append-only feed, partition
    cutoff, watermark): both profiles come out of a single conditional
    aggregation — old-side statistics aggregate ``CASE WHEN old_where
    THEN col END`` alongside the new-side expressions — so the table
    is scanned ONCE. Output rows, names, and types are IDENTICAL to
    ``profile_drift(df.filter(old_where), df, columns)``.

    THE TRADE (measured, sf0.1 lineitem, 4 columns, exact): fusing
    doubles the per-scan expand width — ONE x9 Expand (8 distinct aggs
    + 1) instead of two x5 Expands that Spark runs as parallel stages
    — and the fused form came out 2.1x SLOWER warm (10.3 s vs 4.7 s).
    Use it when the SCAN dominates (cold columnar reads over wide 100
    TB tables, where halving I/O beats widening the agg); use the
    two-frame ``profile_drift`` when data is hot or the cluster has
    idle parallelism — the registered query does (A/B cited there).
    """
    cols = list(columns) if columns is not None else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_drift_where: unknown columns {missing}")
    if not cols:
        raise ValueError("profile_drift_where: no columns to profile")
    gated = lambda c: F.when(old_where, F.col(c))  # noqa: E731
    aggs = [
        F.count(F.lit(1)).alias("__n_new"),
        F.count(F.when(old_where, F.lit(1))).alias("__n_old"),
    ]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.col(c)).alias(f"__nn_new{i}"),
            F.count_distinct(F.col(c)).alias(f"__d_new{i}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_new{i}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_new{i}"),
            F.count(gated(c)).alias(f"__nn_old{i}"),
            F.count_distinct(gated(c)).alias(f"__d_old{i}"),
            F.min(gated(c)).cast("string").alias(f"__mn_old{i}"),
            F.max(gated(c)).cast("string").alias(f"__mx_old{i}"),
        ]
    one = df.agg(*aggs)
    rate = lambda nulls, rows: F.when(  # noqa: E731
        rows > 0, nulls.cast("double") / rows.cast("double")
    ).otherwise(F.lit(0.0))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n_old").alias("n_rows_old"),
                F.col("__n_new").alias("n_rows_new"),
                (F.col("__n_old") - F.col(f"__nn_old{i}")).alias("n_nulls_old"),
                (F.col("__n_new") - F.col(f"__nn_new{i}")).alias("n_nulls_new"),
                F.col(f"__d_old{i}").alias("n_distinct_old"),
                F.col(f"__d_new{i}").alias("n_distinct_new"),
                F.round(
                    rate(
                        F.col("__n_new") - F.col(f"__nn_new{i}"), F.col("__n_new")
                    )
                    - rate(
                        F.col("__n_old") - F.col(f"__nn_old{i}"), F.col("__n_old")
                    ),
                    6,
                ).alias("null_rate_delta"),
                (
                    ~(F.col(f"__mn_old{i}").eqNullSafe(F.col(f"__mn_new{i}")))
                    | ~(F.col(f"__mx_old{i}").eqNullSafe(F.col(f"__mx_new{i}")))
                ).alias("range_changed"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def key_skew_report(
    df: DataFrame,
    key_cols: list[str] | str,
    top_n: int = 20,
) -> DataFrame:
    """Join/groupBy skew diagnostic — the ``top_n`` heaviest keys of
    ``key_cols`` with their row counts and share of the table:
    ``(*key_cols, n_rows, share)``, share rounded 6, ordered by count
    desc with the key as the deterministic tiebreak. The number you
    read BEFORE picking a join strategy at 100 TB: a top key holding
    >~1/shuffle-partitions of the table will straddle no partition
    boundary and serialize its task — that's when ``skew.salted_join``
    / AQE skew splitting / a broadcast of the other side earns its
    keep.

    One groupBy over the key (map-side partials), a broadcast 1-row
    total, and a TakeOrderedAndProject top-n — no global sort, no
    second scan.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not keys:
        raise ValueError("key_skew_report: key_cols must be non-empty")
    if top_n < 1:
        raise ValueError(f"top_n ({top_n}) must be >= 1")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = counts.agg(F.sum("n_rows").cast("double").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            *keys,
            "n_rows",
            F.round(F.col("n_rows").cast("double") / F.col("__t"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.col("n_rows").desc(), *[F.col(k).asc() for k in keys])
        .limit(top_n)
    )


def validate_table(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Expectation gate — one row per named rule: ``(rule, n_rows,
    n_violations, violation_rate)`` where a violation is any row for
    which the rule's boolean SQL expression is NOT true (NULL counts
    as a violation: an expectation that cannot be evaluated is not
    met). The "assert before you ingest" pass of a pipeline — e.g.
    ``{"qty_range": "l_quantity between 1 and 50", "key_present":
    "l_orderkey is not null"}`` — with rates rounded 6 for
    cross-engine comparison.

    ONE aggregation pass whatever the rule count (every rule is a
    conditional sum of the same agg; long form via the plan-time
    explode, exactly ``profile_table``'s shape), so adding rules is
    free on the scan. Rules are arbitrary Catalyst boolean
    expressions: they can cross columns, call functions, and push
    nothing — this pass reads everything the rules mention, once.
    """
    if not rules:
        raise ValueError("validate_table: rules must be non-empty")
    aggs = [F.count(F.lit(1)).alias("__n")]
    names = list(rules)
    for i, name in enumerate(names):
        cond = F.expr(rules[name])
        aggs.append(
            F.sum(F.when(cond, 0).otherwise(1)).alias(f"__v{i}")
        )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("__n").alias("n_rows"),
                F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias("n_violations"),
                F.round(
                    F.when(
                        F.col("__n") > 0,
                        F.coalesce(F.col(f"__v{i}"), F.lit(0)).cast("double")
                        / F.col("__n").cast("double"),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("violation_rate"),
            )
            for i, name in enumerate(names)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def value_histogram(
    df: DataFrame,
    value_col: str,
    bucket_width: float = 100.0,
) -> DataFrame:
    """Bucketed value distribution — ``(bucket_start, n)`` with
    ``bucket_start = floor(value / width) * width`` — the shape read
    behind every "what does this column look like" question (document
    lengths, order totals, token counts) that min/max/distinct can't
    answer. NULLs are reported as their own row (``bucket_start``
    NULL): a distribution that silently drops nulls hides exactly the
    rows profiling exists to catch.

    One groupBy on the derived bucket key (map-side partials) — the
    histogram table is value-range/width-sized, never row-sized.
    Integer-valued columns with an integer ``bucket_width`` stay in
    exact integer arithmetic wide enough for any bigint (floor-div on
    the decimal-cast value), so the SQL oracle is bit-exact; doubles
    bucket in IEEE double (same both engines).
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width ({bucket_width}) must be positive")
    w = float(bucket_width)
    if w == int(w):
        # exact path: decimal floor-div covers the full bigint range
        bucket = (
            F.floor(F.col(value_col).cast("decimal(38,6)") / F.lit(int(w)))
            * F.lit(int(w))
        ).cast("double")
    else:
        bucket = F.floor(F.col(value_col).cast("double") / F.lit(w)) * F.lit(w)
    return (
        df.select(bucket.alias("bucket_start"))
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ks_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov distance between a column's
    distribution in two snapshots — ONE row ``(n_old, n_new, n_values,
    d_stat)`` with ``d_stat = sup_v |F_old(v) - F_new(v)|`` rounded 6 —
    the distribution-shape drift detector ``profile_drift`` cannot be:
    min/max/null-rate all hold steady while the whole interior of a
    value distribution silently shifts (a rescaled score, a clipped
    sensor, a changed default), and KS is the classic sup-norm test
    for exactly that.

    Exact, not sampled: the supremum over all reals is attained at an
    observed value, so evaluating both step-CDFs at every DISTINCT
    value of the union is the true statistic. Each |F1 - F2| is two
    single IEEE divisions of exact BIGINT cumulative counts and one
    subtraction — order-independent and engine-identical — and the max
    over values commutes, so the SQL oracle reproduces the double
    bit-for-bit before the round.

    Scale shape: group-by value first (cumulative counts only need
    distinct values, with per-side counts riding along), then the
    cumulative sums run as a DISTRIBUTED two-phase prefix — value-range
    cells (a pure IEEE bucket expression of the observed min/max, so
    cell order is value order) accumulate locally in parallel and the
    tiny per-cell totals prefix broadcasts back — never one global
    ORDER BY window over what can be a near-row-count-sized distinct
    set. The per-value aggregate feeds THREE subtrees (totals, in-cell
    prefix, per-cell totals), so it is persisted for the run and
    released after the one-row result eagerly materializes
    (localCheckpoint) — without it Spark clones the plan and the full
    two-corpus scan+shuffle executes ~3x (round-13 advisory; the
    bipartite_projection pattern). The report is ALWAYS exactly one
    row: an empty side — or two empty sides — yields d_stat NULL with
    the zero counts, so ``collect()[0]`` is safe unconditionally.
    """
    from pyspark.sql.window import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets ({n_buckets}) must be >= 1")
    # NULLs are not part of a CDF — and engines disagree on NULL sort
    # position (Spark NULLS FIRST vs DuckDB NULLS LAST), so excluding
    # them here is both the right statistic and the oracle contract;
    # n_old/n_new count non-null observations.
    v = lambda df: df.select(  # noqa: E731
        F.col(value_col).cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull())
    u = v(old).select(
        "__v", F.lit(1).alias("__o"), F.lit(0).alias("__n")
    ).unionAll(v(new).select("__v", F.lit(0).alias("__o"), F.lit(1).alias("__n")))
    g = u.groupBy("__v").agg(
        F.sum("__o").cast("long").alias("__c1"),
        F.sum("__n").cast("long").alias("__c2"),
    )
    g = g.persist()
    # r14 advisory (+ r15 review): the eager checkpoint is an action
    # and the window/agg subplans analyze eagerly on the JVM — if
    # ANYTHING from assembly through the checkpoint fails, the
    # persist must still release, so the try opens immediately
    # after it (the dedup recall-audit discipline).
    try:
        tot = g.agg(
            F.coalesce(F.sum("__c1"), F.lit(0)).cast("long").alias("__n1"),
            F.coalesce(F.sum("__c2"), F.lit(0)).cast("long").alias("__n2"),
            F.count(F.lit(1)).alias("__nv"),
            F.min("__v").alias("__lo"),
            F.max("__v").alias("__hi"),
        )
        j = g.crossJoin(F.broadcast(tot))
        norm = (F.col("__v") - F.col("__lo")) / (F.col("__hi") - F.col("__lo"))
        cell = F.when(
            F.col("__hi") > F.col("__lo"),
            F.least(
                F.floor(norm * n_buckets).cast("long"), F.lit(int(n_buckets) - 1)
            ),
        ).otherwise(F.lit(0))
        j = j.withColumn("__b", cell)
        in_cell = (
            Window.partitionBy("__b")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        loc = j.withColumn("__l1", F.sum("__c1").over(in_cell)).withColumn(
            "__l2", F.sum("__c2").over(in_cell)
        )
        ctot = j.groupBy("__b").agg(
            F.sum("__c1").alias("__b1"), F.sum("__c2").alias("__b2")
        )
        w_prev = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
        cpre = ctot.select(
            "__b",
            F.coalesce(F.sum("__b1").over(w_prev), F.lit(0)).alias("__p1"),
            F.coalesce(F.sum("__b2").over(w_prev), F.lit(0)).alias("__p2"),
        )
        # the max over |F1 - F2| is a GLOBAL aggregate (always one row,
        # NULL over an empty candidate set), cross-joined back onto the
        # always-one-row totals — the shape that keeps the report exactly
        # one row even when BOTH inputs are empty (the grouped form
        # returned zero rows there, round-13 advisory)
        dm = (
            loc.join(F.broadcast(cpre), "__b")
            .select(
                # try_divide: an empty side (n = 0) yields NULL instead of
                # an ANSI DIVIDE_BY_ZERO; the non-empty path is the same
                # single IEEE division
                F.abs(
                    F.try_divide(
                        (F.col("__p1") + F.col("__l1")).cast("double"),
                        F.col("__n1").cast("double"),
                    )
                    - F.try_divide(
                        (F.col("__p2") + F.col("__l2")).cast("double"),
                        F.col("__n2").cast("double"),
                    )
                ).alias("__d")
            )
            .agg(F.max("__d").alias("__dm"))
        )
        out = (
            tot.crossJoin(F.broadcast(dm))
            .select(
                F.col("__n1").alias("n_old"),
                F.col("__n2").alias("n_new"),
                F.col("__nv").alias("n_values"),
                F.when(
                    (F.col("__n1") > 0) & (F.col("__n2") > 0),
                    F.round(F.col("__dm"), 6),
                )
                .otherwise(F.lit(None).cast("double"))
                .alias("d_stat"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        g.unpersist()
    return out


def ks_from_histograms(old_h: DataFrame, new_h: DataFrame) -> DataFrame:
    """Two-sample KS over two PRE-BINNED histograms sharing a binning
    (``value_histogram`` / ``streaming_value_histogram`` output):
    ``(n_old, n_new, n_buckets, d_stat)`` with the sup taken at bucket
    boundaries — the exact KS of the quantized distributions, the
    standard monitoring approximation (a lower bound on the raw-value
    ``ks_drift``, and EQUAL to it whenever values are already bucket
    multiples). NULL buckets (a histogram's null-count row) are not
    part of a CDF and are excluded.

    This is the drift half of the stream/batch pair: the stream keeps
    only occupied-bucket counts as state (bounded, no watermark), and
    this op compares that materialized view against a batch reference
    profile. Input tables are occupied-bucket-sized — tiny by
    construction — so the single cumulative window here is over dozens
    of rows, not data (the raw-value op ``ks_drift`` is the one that
    needs the distributed two-phase prefix).
    """
    from pyspark.sql.window import Window

    side = lambda df, one_old: df.filter(  # noqa: E731
        F.col("bucket_start").isNotNull()
    ).select(
        F.col("bucket_start").cast("double").alias("__b"),
        (F.col("n").cast("long") * (1 if one_old else 0)).alias("__c1"),
        (F.col("n").cast("long") * (0 if one_old else 1)).alias("__c2"),
    )
    g = (
        side(old_h, True)
        .unionAll(side(new_h, False))
        .groupBy("__b")
        .agg(
            F.sum("__c1").cast("long").alias("__c1"),
            F.sum("__c2").cast("long").alias("__c2"),
        )
    )
    tot = g.agg(
        F.coalesce(F.sum("__c1"), F.lit(0)).cast("long").alias("__n1"),
        F.coalesce(F.sum("__c2"), F.lit(0)).cast("long").alias("__n2"),
        F.count(F.lit(1)).alias("__nb"),
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("__c1").over(w).alias("__cum1"), F.sum("__c2").over(w).alias("__cum2")
    )
    d = c.crossJoin(F.broadcast(tot)).select(
        "__n1",
        "__n2",
        "__nb",
        F.abs(
            F.try_divide(F.col("__cum1").cast("double"), F.col("__n1").cast("double"))
            - F.try_divide(
                F.col("__cum2").cast("double"), F.col("__n2").cast("double")
            )
        ).alias("__d"),
    )
    # global max + totals cross join: exactly one report row even for
    # two empty histograms (the ks_drift one-row contract)
    dm = d.agg(F.max("__d").alias("__dm"))
    return tot.crossJoin(F.broadcast(dm)).select(
        F.col("__n1").alias("n_old"),
        F.col("__n2").alias("n_new"),
        F.col("__nb").alias("n_buckets"),
        F.when(
            (F.col("__n1") > 0) & (F.col("__n2") > 0),
            F.round(F.col("__dm"), 6),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("d_stat"),
    )
