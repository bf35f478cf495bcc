"""Sketch / approximate-aggregation operators (engine extension;
SURVEY.md §2.3 — the reference has count and sum only).

At 100 TB, exact distinct counts and exact percentiles are the two
aggregations whose state does NOT shrink with partial aggregation —
distinct needs the value set, percentiles need the value multiset.
Sketches bound that state:

- ``approx_uniques``: HyperLogLog++ (``approx_count_distinct``) —
  fixed ~kilobytes of state per group at any cardinality, mergeable
  across partitions (map-side partials work again), relative standard
  deviation ``rsd`` configurable.
- ``value_percentiles``: EXACT interpolated percentiles via
  ``F.percentile`` for the oracle-checked query (DuckDB
  ``quantile_cont`` has identical semantics); the approximate path is
  ``F.percentile_approx`` (Greenwald-Khanna, bounded state), same call
  shape, for when the multiset no longer fits.

The HLL estimate is engine-specific (seed/implementation-defined), so
``approx_uniques`` is validated by an error-bound property test
against the exact count, not by a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def approx_uniques(
    df: DataFrame,
    group_cols: list[str],
    count_col: str,
    rsd: float = 0.05,
) -> DataFrame:
    """HLL++ approximate distinct count of ``count_col`` per group:
    ``(*group_cols, approx_uniques)``. State is O(1/rsd^2) bytes per
    group regardless of cardinality."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(count_col, rsd=rsd).alias("approx_uniques")
    )


def _pctl(col: str, p: float) -> Column:
    return F.round(F.percentile(F.col(col), F.lit(p)), 6)


def approx_value_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 100,
) -> DataFrame:
    """Greenwald-Khanna approximate percentiles per group:
    ``(group_col, ap50, ap90, ...)`` — rank error <= 1/accuracy with
    O(accuracy * log n) state per group instead of the full multiset.
    The mergeable-sketch shape ``value_percentiles`` documents as the
    unbounded-cardinality swap, made concrete."""
    aggs = [
        F.percentile_approx(F.col(value_col), F.lit(p), F.lit(accuracy)).alias(
            f"ap{int(p * 100)}"
        )
        for p in percentiles
    ]
    return df.groupBy(group_col).agg(*aggs)


def value_percentiles(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Exact interpolated percentiles of ``value_col`` per group —
    ``(group_col, p50, p90, p99)``. Exact percentile sorts the
    per-group multiset (fine for bounded groups); swap ``F.percentile``
    for ``F.percentile_approx`` when group cardinality is unbounded."""
    aggs = [
        _pctl(value_col, p).alias(f"p{int(p * 100)}") for p in (0.5, 0.9, 0.99)
    ]
    return df.groupBy(group_col).agg(*aggs)


def hll_daily_sketches(df: DataFrame, ts_col: str, key_col: str) -> DataFrame:
    """Per-day REUSABLE HLL sketches: ``(d, sketch: binary)`` via
    Apache DataSketches (``hll_sketch_agg``). The point vs
    approx_uniques: the sketch itself is the stored artifact — at
    100 TB you materialize these per (day, dimension) cell once, then
    answer any coarser rollup by UNIONING sketches (hll_union_agg)
    without ever re-scanning the fact table. Relative error
    ~1.04/sqrt(2^lg_k) (~1.6% at lg_k=12)."""
    return df.groupBy(F.to_date(ts_col).alias("d")).agg(
        F.hll_sketch_agg(key_col, F.lit(12)).alias("sketch")
    )


def hll_rollup_estimate(sketches: DataFrame) -> DataFrame:
    """Union the ``sketch`` column to ONE total-cardinality estimate:
    ``(total_estimate,)`` — the merge-not-rescan half of the
    pre-aggregated sketch pattern."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
            "total_estimate"
        )
    )


# --- count-min sketch -------------------------------------------------------

def _cms_bucket(item: Column, d: int, width: int) -> Column:
    """Row-d bucket of an item: first 7 md5 hex digits (28 bits) of
    ``"{d}:{item}"`` mod width — the same md5-derived universal-hash
    recipe the minhash family uses, identical in the SQL oracle."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{d}:"), item)), 1, 7), 16, 10
        ).cast("long")
        % width
    ).cast("int")


def count_min_sketch_table(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch of an item column as a ``(d, bucket, cnt)``
    table — ``depth * width`` rows of state TOTAL, independent of item
    cardinality (the heavy-hitter / frequency-estimate companion to
    the HLL distinct sketch; Cormode & Muthukrishnan 2005).

    Deterministic by construction: counters are plain sums over
    (row, bucket) cells, and addition commutes — the sketch is
    identical under any partitioning or arrival order (unlike
    Misra-Gries, whose kept set is order-dependent). It is also
    MERGEABLE: sketches of two corpora add cell-wise, so per-shard /
    per-day sketch tables roll up without re-scanning, exactly like
    the HLL rollup. One narrow explode (depth rows per item
    occurrence) + one groupBy with map-side partial aggregation.
    """
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(F.col(item_col), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    ).select("c.d", "c.bucket")
    return cells.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def count_min_estimates(
    sketch: DataFrame,
    items: list[str],
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point frequency estimates for ``items`` from a
    ``count_min_sketch_table``: ``(item, est)`` with
    ``est = min over rows d of cell(d, bucket_d(item))`` — the CMS
    guarantee ``est >= true count`` always, overcount bounded by
    collisions (~N/width per row, min over depth rows). The probe is a
    tiny broadcast join against the fixed-size sketch table."""
    spark = sketch.sparkSession
    probes = spark.createDataFrame(
        [(w,) for w in items], "item string"
    ).select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(F.col("item"), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select("item", "p.d", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


# Bloom hash salt: a filter table and every probe of it must hash alike.
BLOOM_SALT = "bloom:"


def _bloom_pos(item: Column, h: int, n_bits: int) -> Column:
    """Bit position of hash function ``h`` for an item: the shared
    15-hex md5 -> 60-bit long construction (identical in DuckDB),
    namespaced per hash index so the k functions are independent."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{BLOOM_SALT}{h}:"), item.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % n_bits
    )


def bloom_filter_table(
    df: DataFrame,
    item_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom filter over an item column as a sparse ``(word, bits)``
    table — at most ``n_bits/32`` rows of state TOTAL, independent of
    item cardinality (Bloom 1970; the MEMBERSHIP companion to the HLL
    distinct sketch and the count-min frequency sketch). 32-bit words
    packed into BIGINT cells: bit ``p`` of the filter lives at word
    ``p // 32``, mask ``1 << (p % 32)`` — 32 and not 64 because a
    ``1 << 63`` mask overflows a signed BIGINT in ANSI engines (DuckDB
    raises), while every 32-bit mask is portable arithmetic.

    Deterministic and MERGEABLE by construction: cells are bit_or
    folds, which commute — the table is identical under any
    partitioning, and filters of two corpora OR cell-wise (groupBy
    word, bit_or again) without re-scanning either corpus. No false
    negatives ever; false-positive rate ~``(1 - e^(-kn/m))^k``
    (k = ``n_hashes``, n = items, m = ``n_bits``) — size m ~10 bits
    per expected item for ~1% FPR at k=4.

    The 100 TB shape this exists for: a fingerprint Bloom filter of a
    multi-billion-doc store is a few GB of (word, bits) rows — small
    enough to BROADCAST — so an incremental batch can drop its
    definitely-new docs with a map-side probe and reserve the
    shuffle-heavy exact anti-join (``incremental_exact_dedup``) for
    the ``maybe_member`` sliver the filter cannot clear.

    One narrow explode (``n_hashes`` cells per item) + one groupBy
    with map-side partial aggregation over <= ``n_bits/32`` keys.
    """
    if n_bits < 32 or n_bits % 32 != 0:
        raise ValueError(
            f"n_bits must be a positive multiple of 32, got {n_bits}"
        )
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    cells = df.select(
        F.explode(
            F.array(
                *[
                    _bloom_pos(F.col(item_col), h, n_bits).alias("p")
                    for h in range(n_hashes)
                ]
            )
        ).alias("p")
    ).select(
        (F.col("p") / 32).cast("long").alias("word"),
        # F.shiftleft takes only a literal shift — the SQL form
        # accepts a column
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
            "mask"
        ),
    )
    return (
        cells.groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_filter_probe(
    df: DataFrame,
    filter_df: DataFrame,
    item_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """Membership probe of DISTINCT items against a
    ``bloom_filter_table``: ``(item, maybe_member)`` — ``false`` is
    definitive (no false negatives), ``true`` means "verify with the
    exact path". ``n_bits``/``n_hashes`` must match the build
    (with ``BLOOM_SALT`` they define the hash family; a mismatch
    silently probes garbage, so pass them from one shared config).
    The filter is broadcast
    (<= ``n_bits/32`` rows — a 2^30-bit filter is 4 MB of words).
    Probe cost: ``n_hashes`` cells per item through one join + one
    all-bits-present groupBy."""
    if n_bits < 32 or n_bits % 32 != 0:
        raise ValueError(
            f"n_bits must be a positive multiple of 32, got {n_bits}"
        )
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    probes = df.select(F.col(item_col).alias("item")).distinct().select(
        "item",
        F.explode(
            F.array(
                *[
                    _bloom_pos(F.col("item"), h, n_bits).alias("p")
                    for h in range(n_hashes)
                ]
            )
        ).alias("p"),
    ).select(
        "item",
        (F.col("p") / 32).cast("long").alias("word"),
        # F.shiftleft takes only a literal shift — the SQL form
        # accepts a column
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
            "mask"
        ),
    )
    hit = probes.join(F.broadcast(filter_df), "word", "left").select(
        "item",
        (
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
        ).alias("__hit"),
    )
    return hit.groupBy("item").agg(
        F.min(F.col("__hit").cast("int")).cast("boolean").alias("maybe_member")
    )


def bloom_membership_rowwise(
    df: DataFrame,
    filter_df: DataFrame,
    item_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """Per-ROW Bloom membership verdict — adds ``maybe_member`` to
    ``df`` with every input column preserved, via ``n_hashes``
    broadcast equi-joins against the sparse word table (one per hash
    function) ANDed together. Unlike ``bloom_filter_probe`` there is
    NO distinct and NO aggregation, so the plan is fully STATELESS:
    on an unbounded stream each micro-batch probes through plain
    stream-static broadcast joins with zero streaming state — the
    membership twin of ``streaming_minhash_probe``'s contract. Same
    hash family as the build (``n_bits``/``n_hashes`` must match); no
    false negatives, ``maybe_member = false`` is
    definitive."""
    if n_bits < 32 or n_bits % 32 != 0:
        raise ValueError(
            f"n_bits must be a positive multiple of 32, got {n_bits}"
        )
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    cols = list(df.columns)
    out = df
    verdict = F.lit(True)
    for h in range(n_hashes):
        out = out.withColumn(
            f"__bm_p{h}", _bloom_pos(F.col(item_col), h, n_bits)
        )
        out = out.withColumn(
            f"__bm_m{h}",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__bm_p{h} % 32 AS INT))"
            ),
        )
        fh = F.broadcast(
            filter_df.select(
                F.col("word").alias(f"__bm_w{h}"),
                F.col("bits").alias(f"__bm_b{h}"),
            )
        )
        out = out.withColumn(
            f"__bm_w{h}", (F.col(f"__bm_p{h}") / 32).cast("long")
        ).join(fh, f"__bm_w{h}", "left")
        verdict = verdict & (
            F.col(f"__bm_b{h}").isNotNull()
            & (
                F.col(f"__bm_b{h}").bitwiseAND(F.col(f"__bm_m{h}"))
                == F.col(f"__bm_m{h}")
            )
        )
    return out.select(*cols, verdict.alias("maybe_member"))
