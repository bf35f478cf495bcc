"""Structured Streaming tests: the contract is batch/stream semantic
parity — availableNow over the full input must equal the batch twin."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark.operators import text
from pagerank_mapreduce_implementation_spark.sources import Catalog
from pagerank_mapreduce_implementation_spark.streaming import (
    read_events_stream,
    run_to_memory,
    streaming_user_sessions,
    streaming_windowed_events,
    streaming_word_count,
    user_stats_stateful,
)


def test_streaming_windowed_events_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    run_to_memory(
        streaming_windowed_events(stream), "stream_events_win", "complete"
    )
    got = (
        spark.table("stream_events_win")
        .select("window_start", "event_type", "cnt", "value_sum")
        .collect()
    )
    ev = Catalog(spark, sf_dir).events
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_streaming_word_count_matches_batch(spark, sf_dir):
    docs_schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    run_to_memory(streaming_word_count(stream), "stream_wc", "complete")
    got = {r["word"]: r["cnt"] for r in spark.table("stream_wc").collect()}
    want = {
        r["word"]: r["cnt"]
        for r in text.word_count(Catalog(spark, sf_dir).documents).collect()
    }
    assert got == want


def test_watermark_present_in_plan(spark, sf_dir):
    stream = streaming_windowed_events(read_events_stream(spark, sf_dir))
    # watermark node must exist for state cleanup at scale
    assert "EventTimeWatermark" in stream._jdf.queryExecution().analyzed().toString()


def test_streaming_sessions_match_batch(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.operators.sessions import user_sessions

    stream = read_events_stream(spark, sf_dir)
    run_to_memory(
        streaming_user_sessions(stream), "stream_sess", "complete"
    )
    got = sorted(map(tuple, spark.table("stream_sess").collect()))
    want = sorted(
        map(tuple, user_sessions(Catalog(spark, sf_dir).events).collect())
    )
    assert got == want
    assert len(got) > 0
    # watermark node present (state eviction at scale)
    sess = streaming_user_sessions(read_events_stream(spark, sf_dir))
    assert "EventTimeWatermark" in sess._jdf.queryExecution().analyzed().toString()


def test_streaming_search_matches_batch(spark, sf_dir, tmp_path):
    """streaming_search consumes a materialized tf-idf table as a
    stream (streaming can't chain the TF and DF aggregations in one
    query — the standard pattern is batch-build the index, stream the
    scoring) and must match the batch search exactly."""
    from pagerank_mapreduce_implementation_spark.streaming import streaming_search

    docs = Catalog(spark, sf_dir).documents
    tfidf = text.tf_idf(docs)
    tfidf.write.mode("overwrite").parquet(str(tmp_path / "tfidf"))
    stream = spark.readStream.schema("doc_id bigint, word string, tfidf double").parquet(
        str(tmp_path / "tfidf")
    )
    run_to_memory(streaming_search(stream, ["spark", "table"]), "stream_search", "complete")
    got = {r["doc_id"]: round(r["score"], 6) for r in spark.table("stream_search").collect()}
    want = {
        r["doc_id"]: round(r["score"], 6)
        for r in text.search(tfidf, ["spark", "table"]).collect()
    }
    assert got == want and len(got) > 0


def test_stateful_user_stats_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(user_stats_stateful(stream), "stream_ustats", "update")
    got = {r["user_id"]: (r["n_events"], r["value_sum"], r["n_error"])
           for r in spark.table("stream_ustats").collect()}
    ev = Catalog(spark, sf_dir).events
    want = {
        r["user_id"]: (r["n"], r["s"], r["e"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("s"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("e"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_stream_join_matches_batch_twin(spark, sf_dir):
    """The watermarked stream-stream interval join must produce exactly
    the rows of the equivalent batch join (availableNow over a static
    source -> deterministic)."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    ev_s = strm.read_events_stream(spark, sf_dir)
    p_s = ev_s.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c_s = ev_s.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = strm.streaming_click_attribution(p_s, c_s)
    strm.run_to_memory(joined, "attr_twin_test", output_mode="append")
    got = {
        (r.event_id, r.click_event_id)
        for r in spark.table("attr_twin_test").collect()
    }

    ev = Catalog(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    )
    want = {
        (r.event_id, r.click_event_id)
        for r in p.join(
            c,
            F.expr(
                "user_id = click_user_id AND click_ts >= ts - INTERVAL 1 HOUR "
                "AND click_ts < ts"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_events_stream_reads_directory_backed_table(spark, tmp_path):
    """The file-source reader must handle BOTH table layouts: a single
    events.parquet file (driver testdata) and a directory of part
    files (normal Spark write) — a name glob over the parent matches
    nothing in the directory case."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    src = Catalog(spark, "/root/testdata/sf0.001").events
    n = src.count()
    sf_dir = str(tmp_path)
    src.write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    ev = strm.read_events_stream(spark, sf_dir)
    strm.run_to_memory(
        ev.groupBy().count().withColumnRenamed("count", "n"), "dir_backed_cnt"
    )
    got = spark.table("dir_backed_cnt").collect()[0].n
    assert got == n


def test_stateful_user_stats_correct_across_micro_batches(spark, sf_dir):
    """update-mode emissions append one row per user per micro-batch;
    the query must return only each user's FINAL state. Force multiple
    batches via a multi-file table + maxFilesPerTrigger=1."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    import tempfile

    src = Catalog(spark, sf_dir).events
    with tempfile.TemporaryDirectory() as td:
        src.repartition(3).write.mode("overwrite").parquet(f"{td}/events.parquet")
        ev = strm.read_events_stream(spark, td, max_files_per_trigger=1)
        stats = strm.user_stats_stateful(ev)
        strm.run_to_memory(stats, "multi_batch_ustats", output_mode="update")
        sink = spark.table("multi_batch_ustats")
        n_users = src.select("user_id").distinct().count()
        # raw sink has duplicate user rows (multi-batch); final-state
        # reduction (as _q_streaming_user_stats applies) must agree
        # with the batch aggregate exactly
        final = (
            sink.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "value_sum", "n_error")).alias("s"))
            .select("user_id", "s.n_events", "s.value_sum", "s.n_error")
        )
        assert final.count() == n_users
        batch = src.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias(
                "value_sum"
            ),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
        )
        assert final.exceptAll(batch).isEmpty() and batch.exceptAll(final).isEmpty()


def test_events_stream_reads_file_uri_directory(spark, tmp_path):
    """file:// URIs must be probed through the scheme: a directory-
    backed table under file:/// otherwise fell into the glob branch
    and streamed zero rows."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    src = Catalog(spark, "/root/testdata/sf0.001").events
    n = src.count()
    src.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    ev = strm.read_events_stream(spark, f"file://{tmp_path}")
    strm.run_to_memory(
        ev.groupBy().count().withColumnRenamed("count", "n"), "file_uri_cnt"
    )
    assert spark.table("file_uri_cnt").collect()[0].n == n


def test_streaming_phash_probe_end_to_end(spark, tmp_path):
    """The multimodal streaming probe: a blob stream (parquet dir,
    availableNow) probed against a static perceptual-hash store. A
    re-encoded copy of a stored image matches at hamming 0 with the
    smallest store id; unrelated images emit nothing; the batch
    composition (the oracle) agrees row-for-row; and the stream-side
    plan is stateless up to the bounded per-doc min."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    # store: groups 0..4's base images (r=0 variants)
    store_blobs = spark.createDataFrame(
        [(g * 4, mm.phash_test_image(g * 4)) for g in range(5)],
        "doc_id long, content binary",
    )
    seen_fp = mm.phash_images(store_blobs)

    # stream: doc 100 = exact copy of stored group 0, doc 101 = the
    # r=1 variant of group 1 (few bits away), doc 102 = unrelated
    rows = [
        (100, mm.phash_test_image(0)),
        (101, mm.phash_test_image(5)),
        (102, mm.phash_test_image(400)),
    ]
    src = str(tmp_path / "blob_stream")
    spark.createDataFrame(rows, "doc_id long, content binary").write.parquet(src)

    batch_blobs = spark.read.parquet(src)
    batch = {
        r.doc_id: (r.dup_store_id, r.min_hamming)
        for r in strm.streaming_phash_probe(batch_blobs, seen_fp).collect()
    }
    assert batch[100] == (0, 0)  # exact copy of store doc 0
    assert 102 not in batch  # unrelated image never matches

    stream_blobs = (
        spark.readStream.schema("doc_id long, content binary").parquet(src)
    )
    out = strm.streaming_phash_probe(stream_blobs, seen_fp)
    assert out.isStreaming
    name = "phash_probe_mem"
    strm.run_to_memory(out, name, output_mode="complete", state_partitions=4)
    streamed = {
        r.doc_id: (r.dup_store_id, r.min_hamming)
        for r in spark.table(name).collect()
    }
    assert streamed == batch  # stream == batch oracle


def test_streaming_bloom_probe_end_to_end(spark, tmp_path):
    """The streaming Bloom membership probe: an item stream checked
    per-row against a static filter. Members verdict true (no false
    negatives), stream output row-for-row equals the batch row-wise
    composition, and the plan carries ZERO streaming state (append
    mode works with no watermark — nothing stateful to bound)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.operators.sketches import (
        bloom_filter_table,
        bloom_membership_rowwise,
    )

    members = spark.createDataFrame(
        [(f"fp-{i}",) for i in range(100)], "item string"
    )
    flt = bloom_filter_table(members, "item", n_bits=3200, n_hashes=4)

    rows = [(i, f"fp-{i}") for i in range(50)] + [
        (1000 + i, f"new-{i}") for i in range(50)
    ]
    src = str(tmp_path / "item_stream")
    spark.createDataFrame(rows, "doc_id long, item string").write.parquet(src)

    batch = {
        r.doc_id: r.maybe_member
        for r in bloom_membership_rowwise(
            spark.read.parquet(src), flt, "item", n_bits=3200, n_hashes=4
        ).collect()
    }
    assert all(batch[i] for i in range(50))  # no false negatives

    stream = spark.readStream.schema("doc_id long, item string").parquet(src)
    out = strm.streaming_bloom_probe(
        stream, flt, n_bits=3200, n_hashes=4
    )
    assert out.isStreaming
    strm.run_to_memory(
        out.select("doc_id", "maybe_member"),
        "_t_bloom_stream",
        output_mode="append",
        state_partitions=4,
    )
    got = {
        r.doc_id: r.maybe_member
        for r in spark.table("_t_bloom_stream").collect()
    }
    assert got == batch


def test_streaming_changelog_compact_tombstone_and_resurrect(spark, tmp_path):
    """Latest-wins over micro-batches: a key whose CURRENT winner is a
    tombstone is absent; a later upsert overtakes the tombstone and
    the key reappears. Winner rule identical to the batch twin."""
    import datetime as dt

    from pagerank_mapreduce_implementation_spark import streaming as strm

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, t(1), 10, "view", 1.0, "{}"),
        (2, t(2), 10, "error", 0.0, "{}"),   # tombstone wins for u10
        (3, t(1), 11, "error", 0.0, "{}"),
        (4, t(2), 11, "purchase", 9.0, "{}"),  # resurrects u11
    ]
    src = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    sf_dir = str(tmp_path)
    src.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    ev = strm.read_events_stream(spark, sf_dir)
    snap = strm.streaming_changelog_compact(ev)
    strm.run_to_memory(snap, "chlog_tomb", output_mode="complete", state_partitions=4)
    got = {r["user_id"]: (r["event_id"], r["event_type"]) for r in spark.table("chlog_tomb").collect()}
    assert got == {11: (4, "purchase")}
