"""Structured Streaming surface (engine extension — the reference has
no streaming at all: its only inputs are static HDFS paths,
PageRank.java:94,164; SURVEY.md §2.3).

Streaming re-uses the batch operators' column expressions, which is the
point of the DataFrame API: ``streaming_word_count`` is the SAME
tokenize+groupBy as operators/text.py over an unbounded source, and the
windowed event aggregation is the streaming twin of the batch
``events_hourly`` query (watermark added for state cleanup).

Scale notes:
- aggregations run in update/complete mode with incremental state;
  the watermark bounds state size (late rows beyond it are dropped).
- file sources at 100 TB: maxFilesPerTrigger throttles intake;
  checkpointLocation makes every sink exactly-once.
- tests drive these with ``trigger(availableNow=True)`` + memory sink
  and assert equality with the batch twin — the contract is
  batch/stream semantic parity, not a long-running cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream a ``{sf_dir}/{table}.parquet`` test table through the
    file source, handling BOTH on-disk layouts: a single parquet FILE
    (driver testdata) and a DIRECTORY of part files (normal Spark
    write). The distinction matters — file sources monitor a
    directory, and a name glob over the parent matches leaf part-file
    names, so globbing for a directory-backed table reads nothing.

    Only local paths are auto-detected (os.path.isdir); remote tables
    (hdfs://, s3://) are always directory-backed — streamed directly.
    """
    import os

    from pagerank_mapreduce_implementation_spark.sources.catalog import (
        _read_parquet_nanos_safe,
    )

    reader = spark.readStream.format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # nanos-safe + UTC: works under ANY session, not just
    # session.get_spark (the confs also govern the streaming scan).
    path = f"{sf_dir}/{table}.parquet"
    reader = reader.schema(_read_parquet_nanos_safe(spark, path).schema)
    is_remote = "://" in sf_dir and not sf_dir.startswith("file://")
    # os.path.isdir cannot see through a file:// URI — strip the scheme
    # before probing, or a directory-backed table under file:///...
    # would silently fall into the glob branch and stream zero rows
    local_probe = path[len("file://") :] if path.startswith("file://") else path
    if is_remote or os.path.isdir(local_probe):
        return reader.load(path)
    # single-file table: monitor sf_dir, select the one file by name
    return reader.option("pathGlobFilter", f"{table}.parquet").load(sf_dir)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the events table. ts is stored as TIMESTAMP(NANOS) and
    arrives as long (Spark <=4.0 with nanosAsLong) or TIMESTAMP_NTZ
    (Spark 4.1+ native nanos read; the legacy conf is ignored) — both
    convert to a micros TIMESTAMP here, same as the batch catalog
    loader: event-time streaming (withWatermark) requires the
    timezone-aware TIMESTAMP type, and the UTC session pin makes the
    NTZ cast field-value-preserving."""
    df = read_table_stream(spark, sf_dir, "events", max_files_per_trigger)
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def streaming_windowed_events(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event counts/sums with late-data handling:
    ``(window_start, window_end, event_type, cnt, value_sum)``.

    The watermark bounds aggregation state AND admits late rows up to
    2 hours behind the max seen event time — the streaming twin of the
    batch events_hourly query.
    """
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias(
                "value_sum"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "value_sum",
        )
    )


def streaming_sliding_events(events: DataFrame) -> DataFrame:
    """SLIDING-window event counts/sums (2-hour windows every hour) —
    the overlapping-window mode
    (every event lands in size/slide windows simultaneously), the
    rolling-rate view tumbling windows can't express:
    ``(window_start, window_end, event_type, cnt, value_sum)``.

    State: one group per (open window, type) — size/slide times the
    tumbling state, closed by the same watermark. Spark implements the
    overlap by EXPANDING each row into its size/slide windows before
    the aggregation; at 100 TB pick slide accordingly (the expansion
    multiplies shuffle volume by exactly size/slide).
    """
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "value_sum",
        )
    )


def streaming_word_count(lines: DataFrame) -> DataFrame:
    """Running word count over the ``text`` column of a stream — the streaming
    form of operators/text.word_count (same tokenize expression)."""
    return (
        lines.select(F.explode(F.split(F.col("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming ingestion dedup: the distinct content fingerprints of
    an unbounded document stream — ``dropDuplicates`` backed by the
    streaming state store, emitting each fingerprint the first time it
    arrives (append mode). The SAME normalize+md5 fingerprint as the
    batch operators/dedup.exact_dedup, so batch and stream agree on
    what "the same document" means.

    Output is the fingerprint alone (deterministic regardless of which
    physical row of a duplicate group arrives first — the doc_id of
    the survivor is arrival-order-dependent and deliberately NOT
    emitted). At 100 TB/day pair this with
    ``dropDuplicatesWithinWatermark`` on an event-time column to bound
    state to the dedup horizon; unbounded dropDuplicates state is the
    exact-dedup-forever semantics.
    """
    from pagerank_mapreduce_implementation_spark.operators.dedup import normalize_text

    return docs.select(
        F.md5(normalize_text(F.col("text"))).alias("fingerprint")
    ).dropDuplicates(["fingerprint"])


def streaming_approx_uniques(
    events: DataFrame, rsd: float = 0.05
) -> DataFrame:
    """HLL++ distinct users per day over an unbounded event stream —
    the streaming twin of sketches.approx_uniques. The sketch's
    MERGEABILITY is what makes it a streaming-native aggregate: state
    per (day) group is the fixed-size HLL registers, merged
    incrementally across micro-batches, never the user-id set (an
    exact streaming countDistinct would hold every id in state
    forever). Complete output mode; at 100 TB/day add a watermark +
    window to age out closed days' registers."""
    return (
        events.select(F.to_date("ts").alias("d"), "user_id")
        .groupBy("d")
        .agg(F.approx_count_distinct("user_id", rsd=rsd).alias("approx_uniques"))
    )


def streaming_cms_cells(events: DataFrame) -> DataFrame:
    """Count-min sketch cells of ``user_id`` over an unbounded stream —
    the streaming twin of sketches.count_min_sketch_table: state is
    EXACTLY the 4 x 256 counter cells regardless of item cardinality
    (a streaming exact per-item count would grow state with the
    universe forever; CMS is the bounded-state answer for streaming
    heavy-hitter / frequency monitoring). Counter updates are
    commutative integer adds, so the cells a micro-batch sequence
    produces are IDENTICAL to the batch sketch over the same rows —
    probe the materialized cells with sketches.count_min_estimates.
    Complete output mode (the cell table IS the state, fixed-size)."""
    from pagerank_mapreduce_implementation_spark.operators.sketches import _cms_bucket

    cells = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(
                            F.col("user_id").cast("string"), d, 256
                        ).alias("bucket"),
                    )
                    for d in range(4)
                ]
            )
        ).alias("c")
    ).select("c.d", "c.bucket")
    return cells.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def streaming_bounded_dedup(events: DataFrame) -> DataFrame:
    """First-seen emission per ``user_id`` with state BOUNDED to the
    30-day dedup horizon: ``dropDuplicatesWithinWatermark`` — the
    production form of streaming_exact_dedup's unbounded
    ``dropDuplicates`` (whose docstring points here). A duplicate
    arriving within the horizon of
    the first sighting is dropped; state older than the watermark is
    evicted, so at 100 TB/day the store holds one row per key per
    horizon instead of forever.

    Emits the key alone: which physical duplicate is "first" is
    arrival-order-dependent, the key set is not. With the horizon
    exceeding the input's event-time span (as in the registered
    query's data), no state can expire and the output is exactly DISTINCT
    keys — what the batch oracle checks.
    """
    return (
        events.select(F.col("user_id").alias("key"), F.col("ts"))
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["key"])
        .select(F.col("key").alias("user_id"))
    )


def streaming_minhash_probe(
    docs: DataFrame,
    seen_sigs: DataFrame,
    threshold: float = 0.5,
    ngram: int = 5,
) -> DataFrame:
    """Streaming cross-batch NEAR-dup detection: an unbounded document
    stream probed against a STATIC MinHash signature store — the
    streaming twin of ``dedup.incremental_minhash_dedup``'s
    ``dup_of_store`` verdict.

    The store's band index + signatures are pinned as broadcast build
    sides, which holds while the store fits the 8 GB broadcast cap —
    hundreds of millions of signatures.

    The whole probe is STATELESS per micro-batch by construction:
    signatures come from ``dedup.rowwise_minhash_signatures`` (pure
    per-row column expressions — no shuffle, no streaming aggregation
    state), band structs explode per row, and the store's band index +
    signatures join in as broadcast STATIC sides (stream-static joins
    carry no state store). The only stateful operator is the final
    per-doc min — bounded by the number of DUPLICATE docs seen, not the
    stream (and a production sink could drop even that and emit raw
    match evidence in append mode).

    Emits ``(doc_id, dup_store_id)`` for stream docs whose equal-
    component estimate against some store signature clears
    ``ceil(threshold * NUM_HASHES)`` over 4 bands — ``dup_store_id``
    is the smallest
    matching store doc. Within-stream duplicates are out of scope here
    (pair with streaming_exact_dedup / streaming_bounded_dedup);
    batch-vs-store semantics are bit-identical to the batch operator,
    so the oracle is the batch SQL.
    """
    import math

    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        NUM_HASHES,
        band_buckets,
        rowwise_minhash_signatures,
    )

    min_matches = math.ceil(NUM_HASHES * threshold)
    r = NUM_HASHES // 4
    sig = rowwise_minhash_signatures(docs, ngram)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"h{b * r + j}") for j in range(r)]
                ).alias("bucket"),
            )
            for b in range(4)
        ]
    )
    bb = sig.select(
        "doc_id",
        *[f"h{i}" for i in range(NUM_HASHES)],
        F.explode(band_structs).alias("bb"),
    ).select(
        "doc_id",
        *[f"h{i}" for i in range(NUM_HASHES)],
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    store_bands = F.broadcast(
        band_buckets(seen_sigs).select(
            F.col("doc_id").alias("store_id"), "band", "bucket"
        )
    )
    store_sigs = F.broadcast(
        seen_sigs.select(
            F.col("doc_id").alias("store_id"),
            *[F.col(f"h{i}").alias(f"s{i}") for i in range(NUM_HASHES)],
        )
    )
    n_eq = sum(
        [
            F.when(F.col(f"h{i}") == F.col(f"s{i}"), 1).otherwise(0)
            for i in range(NUM_HASHES)
        ],
        F.lit(0),
    )
    matches = (
        bb.join(store_bands, ["band", "bucket"])
        .join(store_sigs, "store_id")
        .filter(n_eq >= min_matches)
    )
    return matches.groupBy("doc_id").agg(
        F.min("store_id").alias("dup_store_id")
    )


def streaming_search(
    tfidf_stream: DataFrame, terms: list[str]
) -> DataFrame:
    """Streaming keyword search: incremental per-doc score sums over a
    stream of tf-idf rows (streaming twin of operators/text.search)."""
    return (
        tfidf_stream.filter(F.col("word").isin(list(terms)))
        .groupBy("doc_id")
        .agg(F.sum("tfidf").alias("score"))
    )


def streaming_user_sessions(events: DataFrame) -> DataFrame:
    """Streaming sessionization: the SAME session_window expression as
    the batch operators/sessions.py:user_sessions, over an unbounded
    source. The 2-hour watermark closes sessions whose last event is older
    than the watermark, bounding state (late events past it are
    dropped)."""
    from pagerank_mapreduce_implementation_spark.operators.sessions import user_sessions

    return user_sessions(events.withWatermark("ts", "2 hours"))


def streaming_click_attribution(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each purchase event
    joined to the same user's click events in the preceding hour
    (inner join, append mode, 2-hour watermarks).

    Both sides carry event-time watermarks and the join condition
    bounds click time relative to purchase time — together these let
    Spark expire buffered rows: a click older than (purchase watermark
    - window) can never match again and its state is dropped. Without
    the time bound a stream-stream join would buffer both streams
    forever; this is the canonical bounded-state formulation
    (Structured Streaming docs, "inner joins with watermarking").

    At 100 TB/day the state store holds only ~window+watermark of both
    streams, hash-partitioned by user_id — one shuffle per side.
    """
    p = purchases.withWatermark("ts", "2 hours")
    c = clicks.withWatermark("click_ts", "2 hours")
    return p.join(
        c,
        F.expr(
            "user_id = click_user_id "
            "AND click_ts >= ts - INTERVAL 1 hour "
            "AND click_ts < ts"
        ),
        "inner",
    )


def user_stats_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful per-user accumulator via ``applyInPandasWithState``
    — the extension point for operators the built-in windowed
    aggregations can't express (the running state here is three
    counters, but the same shape carries arbitrary per-key state
    machines).

    Emits ``(user_id, n_events, value_sum, n_error)`` per updated user
    each micro-batch (update mode). State is Arrow-batched per group;
    at 100 TB state lives in the state store partitioned by user_id —
    one shuffle, no global structure.

    value_sum accumulates in integer CENTS (the source values have 2
    decimals) so the float result is order-independent and matches the
    decimal-cast SQL oracle exactly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        n, cents, errs = state.get if state.exists else (0, 0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(round(float(pdf["value"].astype("float64").mul(100).round().sum())))
            errs += int((pdf["event_type"] == "error").sum())
        state.update((n, cents, errs))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "value_sum": [cents / 100.0],
                "n_error": [errs],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, value_sum double, n_error bigint",
        stateStructType="n bigint, cents bigint, errs bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
    state_partitions: int | None = None,
) -> None:
    """Drive a streaming DataFrame to a memory sink with
    ``availableNow`` (process everything available, then stop) — the
    deterministic test/backfill harness.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    duration of the run (restored after). A stateful query's state
    store count is FIXED by this conf at first start — it is a
    deployment decision, not an optimizer one: a stream-stream join
    materializes 4 state stores per partition per side, so an
    over-wide default dominates small/backfill runs (A/B at sf0.1:
    the click-attribution join is 8.3 s at 32 partitions, 3.3 s at 8),
    while a production deployment sizes it to cluster width once and
    keeps it for the checkpoint's lifetime.
    """
    spark = stream_df.sparkSession
    # Spark 4.1's checkpoint-file checksum manager LEAKS its thread
    # pools when a query stops (~130 ChecksumCheckpointFileManager
    # threads per run; measured 640 after five availableNow queries,
    # degrading every subsequent job in the session). Checksums only
    # guard checkpoint files against corruption — safe to trade away;
    # set here so the fix holds under ANY session, not just
    # session.get_spark.
    try:
        spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    except Exception:
        pass  # conf absent on older/newer Spark: nothing to disable
    conf_key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf_key) if state_partitions is not None else None
    if state_partitions is not None:
        spark.conf.set(conf_key, str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"streaming query {table_name} did not finish")
    finally:
        if old is not None:
            spark.conf.set(conf_key, old)


def streaming_phash_probe(
    blobs: DataFrame,
    seen_fp: DataFrame,
    hasher=None,
) -> DataFrame:
    """Streaming IMAGE near-dup probe: an unbounded blob stream checked
    against a STATIC perceptual-hash store (``seen_fp``: ``(doc_id,
    phash)`` — the layout ``multimodal.phash_images`` persists) — the
    multimodal twin of ``streaming_minhash_probe``, built from the
    identical pieces: a stateless per-row fingerprint (here the Arrow
    ``mapInPandas`` hashing pass, which Structured Streaming runs
    per-micro-batch with no state), the 15-bit-chunk pigeonhole
    explode, and a stateless stream-static join against the store's
    broadcast chunk index.

    Emits one row per stream doc with a verified match:
    ``(doc_id, dup_store_id, min_hamming)`` — the smallest matching
    store doc and the closest distance. The final per-doc aggregation
    is the ONLY stateful operator, bounded by the number of MATCHED
    stream docs, exactly the minhash probe's contract. Recall is the
    batch operator's (``HAMMING_CHUNKS - 1`` Hamming guaranteed,
    banded above; matches within 10 bits), so
    the batch composition is the oracle.
    """
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        hamming_store_probe,
    )
    from pagerank_mapreduce_implementation_spark.operators.multimodal import (
        PHASH_BITS,
        phash_images,
    )

    return hamming_store_probe(
        phash_images(blobs, hasher), seen_fp, bits=PHASH_BITS
    )


def streaming_bloom_probe(
    items: DataFrame,
    filter_df: DataFrame,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """Streaming Bloom MEMBERSHIP probe: an unbounded item stream
    checked per-row against a static ``bloom_filter_table`` — the
    membership twin of ``streaming_minhash_probe``. Fully STATELESS:
    ``sketches.bloom_membership_rowwise`` probes through ``n_hashes``
    stream-static broadcast equi-joins (no distinct, no aggregation),
    so there is NO streaming state at all — not even the matched-doc
    agg the minhash/phash probes keep. ``maybe_member = false`` is
    definitive (no false negatives); route the true sliver to the
    exact path. The batch operator composition is the oracle."""
    from pagerank_mapreduce_implementation_spark.operators.sketches import (
        bloom_membership_rowwise,
    )

    return bloom_membership_rowwise(items, filter_df, "item", n_bits, n_hashes)


def streaming_changelog_compact(events: DataFrame) -> DataFrame:
    """Streaming latest-wins changelog compaction: the live snapshot
    of per-key state over an unbounded change stream — the streaming
    twin of ``operators.changelog.compact_changelog``, same winner
    rule per ``user_id`` (max lexicographic ``(ts, event_id)`` struct)
    and same tombstone semantics (a key whose CURRENT winner is an
    ``event_type = 'error'`` row is
    absent from the emitted snapshot, and REAPPEARS if a later upsert
    overtakes the tombstone — state keeps the tombstone winner, the
    post-aggregation filter hides it).

    State is ONE struct per key (the ``max_by`` accumulator), the
    minimal possible for latest-wins — no event history, no window
    buffers. Complete/update output modes; with the memory sink and a
    drained stream the table IS the batch compaction, which is
    exactly how the driver oracle gates it (stream/batch parity: one
    shared SQL oracle with the batch twin).
    """
    payload = [c for c in events.columns if c != "user_id"]
    win = events.groupBy("user_id").agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(c) for c in ("ts", "event_id")]),
        ).alias("__w")
    )
    return win.select(
        *[
            F.col(c) if c == "user_id" else F.col(f"__w.{c}").alias(c)
            for c in events.columns
        ]
    ).filter(F.col("event_type") != "error")


def streaming_lm_probe(doc_stream: DataFrame, scored_bigrams: DataFrame) -> DataFrame:
    """Streaming LM-perplexity scoring → ``(doc_id, n_bigrams, nll)``:
    documents arriving on a stream scored under a bigram LM TRAINED ON
    A BATCH CORPUS (``textstats.bigram_surprisal_table``) — the
    train-once / serve-continuously split of a production quality
    filter (CCNet's LM stage as a stream job: the model is a static
    vocab-bounded table, the stream never retrains it).

    Shape: the per-row bigram build is a NARROW stateless transform
    (``textstats.doc_bigrams`` — tokenize + array + explode, no
    state); the score lookup is a STREAM-STATIC join against the
    scored-bigram table (broadcast when it fits — it is vocab-bounded,
    not corpus-bounded); the only streaming state is the per-doc
    (count, sum) aggregate, one row per doc in flight. Rounding is
    ``_score_bigram_docs`` — shared with the batch scorer, so when the
    stream replays the training corpus the result equals batch
    ``bigram_lm_scores`` row-for-row and the two share ONE oracle
    (the ``streaming_search`` gate pattern).
    """
    from pagerank_mapreduce_implementation_spark.operators.textstats import (
        _score_bigram_docs,
        doc_bigrams,
    )

    bi = doc_bigrams(doc_stream)
    return _score_bigram_docs(bi, scored_bigrams)


def streaming_rule_violations(events: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Per-window expectation monitoring — the streaming twin of
    ``relational.validate_table``: for each tumbling event-time window
    and each named boolean rule, ``(window_start, window_end, rule,
    n_rows, n_violations, violation_rate)`` with NULL predicates
    counted as violations and rates rounded 6. The live data-quality
    dashboard an ingest pipeline keeps on its firehose: a rule's rate
    jumping in the newest window pages someone before the corrupted
    window lands in the corpus.

    State shape: ONE windowed aggregation whatever the rule count
    (every rule is a conditional sum of the same agg; the long form is
    a stateless post-aggregation explode), watermark-bounded exactly
    like ``streaming_windowed_events``.
    """
    if not rules:
        raise ValueError("streaming_rule_violations: rules must be non-empty")
    names = list(rules)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, name in enumerate(names):
        aggs.append(
            F.sum(F.when(F.expr(rules[name]), 0).otherwise(1)).alias(f"__v{i}")
        )
    agged = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(*aggs)
    )
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
    return agged.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.explode(rows).alias("r"),
    ).select("window_start", "window_end", "r.*")


def streaming_value_histogram(
    events: DataFrame,
    bucket_width: float = 100.0,
) -> DataFrame:
    """Live value distribution — the streaming twin of
    ``relational.value_histogram``: running ``(bucket_start, n)``
    counts of ``value`` in fixed-width buckets, NULLs as their own
    bucket row. The ingest-monitoring shape read (is today's value
    distribution the same one yesterday's batch profile recorded?)
    that pairs with ``streaming_rule_violations``' pass/fail view.

    State = one count per OCCUPIED bucket — value-range/width-sized,
    independent of stream length (complete-mode aggregation, no
    watermark needed because the state itself is bounded); the bucket
    arithmetic is the batch operator's exact decimal floor-div, so a
    batch backfill and the stream agree bit-for-bit.
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width ({bucket_width}) must be positive")
    w = float(bucket_width)
    if w == int(w):
        bucket = (
            F.floor(F.col("value").cast("decimal(38,6)") / F.lit(int(w)))
            * F.lit(int(w))
        ).cast("double")
    else:
        bucket = F.floor(F.col("value").cast("double") / F.lit(w)) * F.lit(w)
    return (
        events.select(bucket.alias("bucket_start"))
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )
