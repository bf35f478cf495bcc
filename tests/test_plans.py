"""Physical-plan audits (SURVEY.md §4): the Spark-first claims —
pushdown, pruning, broadcast joins, top-k without a global sort —
asserted against the executed plans so a regression in plan shape
fails the suite, not just the benchmark.

Checks are substring-loose on purpose: they pin the *kind* of plan
(e.g. "no SortMergeJoin", "filter reached the scan"), not its exact
formatting, which varies across Spark versions.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = entrymod.queries()

    def get(name):
        return plan_of(qs[name](spark, sf_dir))

    return get


def test_pricing_summary_pushdown_and_pruning(plans):
    p = plans("pricing_summary")
    # the shipdate predicate must reach the parquet scan...
    assert re.search(r"PushedFilters: \[.*l_shipdate", p)
    # ...and the scan must not read all 16 lineitem columns (the
    # FileScan column list is printed in full; ReadSchema may be
    # truncated by toString)
    scan_cols = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert scan_cols is not None
    assert len(scan_cols.group(1).split(",")) <= 8


def test_top_customers_broadcasts_dimensions(plans):
    p = plans("top_customers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_search_top10_avoids_global_sort(plans):
    assert "TakeOrderedAndProject" in plans("search_top10")


def test_top3_per_nation_pushes_group_limit(plans):
    # WindowGroupLimit prunes per-partition before the shuffle
    assert "WindowGroupLimit" in plans("top3_per_nation")


def test_word_count_partial_aggregation(plans):
    # map-side combine: a partial HashAggregate below the exchange
    # (the reference shipped full shuffle volume — no combiner,
    # SURVEY.md §4)
    p = plans("word_count")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_token_stats_single_narrow_pass(plans):
    # pure per-row transform: no exchange at all below the scan
    assert "Exchange" not in plans("token_stats")


def test_cosine_topk_no_shuffle_before_topk(plans):
    p = plans("cosine_topk")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row query side broadcast


def test_ivf_topk_assignment_exchange_free_centroids_broadcast(plans):
    # the codegen-blowup property the 1-row array<struct> centroid
    # broadcast bought: assignment is a narrow per-row fold — every
    # Exchange in the plan is a broadcast, never a shuffle — and top-k
    # needs no global sort. A regression here fails the suite instead
    # of only showing up in the bench.
    p = plans("ivf_topk")
    assert "SortMergeJoin" not in p
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p  # centroid + query 1-row sides
    assert "TakeOrderedAndProject" in p


def test_asof_join_single_shuffle_no_range_join(plans):
    # the union-trick as-of join: ONE exchange for the window (plus the
    # scans' own), and never a cartesian/broadcast-nested-loop range join
    p = plans("asof_clicks")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_interval_join_is_equi_not_cartesian(plans):
    # the range predicate must ride an equi-join on user_id, not
    # degenerate to a nested-loop over all time pairs
    p = plans("signup_followups")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_daily_uniques_partial_distinct(plans):
    # distinct-agg plans as two-phase HashAggregate (partial per
    # partition on (day, user_id), then final) — the shuffle carries
    # distinct pairs, not raw events
    p = plans("daily_uniques")
    assert p.count("HashAggregate") >= 3


def test_tfidf_df_join_broadcast_by_aqe_not_hint(spark, sf_dir):
    # tf_idf carries NO F.broadcast hint (unbounded vocabulary at
    # corpus scale would make a forced broadcast a driver OOM); at THIS
    # scale AQE must still pick a broadcast join from the measured size
    # of the df-per-word aggregate — pin that the hint's removal cost
    # nothing here
    import __spark_entry__ as em

    df = em.queries()["tfidf"](spark, sf_dir)
    # materialize THIS DataFrame's own query execution so AQE finalizes
    # its adaptive plan (count() would plan a separate aggregate query
    # and leave this one isFinalPlan=false)
    df.collect()
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert "BroadcastHashJoin" in p


def test_cosine_pairs_candidates_from_band_buckets(spark, sf_dir):
    # banded LSH: candidates come from the (band, key) bucket join —
    # never a cartesian/nested-loop product of the vector table.
    # materialize=False exposes the real plan (the default returns a
    # checkpoint scan — same rows, invisible lineage)
    from pagerank_mapreduce_implementation_spark.operators import similarity
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    p = plan_of(similarity.cosine_pairs_lsh(emb, 0.2, bands=4, materialize=False))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the pair-dedup before exact scoring is a real aggregation step
    assert "HashAggregate" in p


def test_embedding_dedup_anti_join_no_cartesian(spark, sf_dir):
    # the checkpointed pair set feeds ONE anti-join against the docs;
    # audit the drop-list join on the returned (composite) plan
    from pagerank_mapreduce_implementation_spark.operators import dedup as dd
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    out = dd.embedding_near_dup_survivors(
        cat.documents, cat.embeddings, threshold=0.2, bands=4
    )
    try:
        # the drop list is a checkpoint scan with NO plan-time stats,
        # so the static plan defaults to SMJ; AQE measures the tiny
        # materialized pair set at runtime and converts the anti-join
        # to broadcast — assert on the EXECUTED adaptive plan
        out.collect()
        p = plan_of(out).split("+- == Initial Plan ==")[0]
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p and "LeftAnti" in p
        assert "SortMergeJoin" not in p
    finally:
        from pagerank_mapreduce_implementation_spark.util import release_result

        release_result(out)


def test_salted_word_count_two_phase(plans):
    # phase 1 shuffles on (word, _salt) — the hot key spreads over 16
    # reducers — then phase 2 combines on word alone
    p = plans("salted_word_count")
    assert re.search(r"hashpartitioning\(word[^)]*_salt", p)
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2


def test_customer_order_counts_preaggregated_outer_join(plans):
    # the count side aggregates BELOW the join (customers join counts,
    # not customers x orders re-grouped) and broadcasts
    p = plans("customer_order_counts")
    assert "LeftOuter" in p and "BroadcastHashJoin" in p
    join_pos = p.find("BroadcastHashJoin")
    assert "HashAggregate" in p[join_pos:], "count must be below the join"


def test_pivot_single_conditional_aggregation(plans):
    # pinned pivot values -> ONE two-phase aggregation, no per-type
    # scans or distinct pre-pass
    p = plans("daily_type_pivot")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert p.count("FileScan") == 1


def test_brand_revenue_broadcasts_part_dim(plans):
    # the part dimension broadcasts; the fact side never sort-merge
    # joins, and the scan is pruned to the 3 needed lineitem columns
    p = plans("brand_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    scan_cols = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert scan_cols is not None and len(scan_cols.group(1).split(",")) <= 3


def test_order_priority_clean_plans_anti_join(plans):
    # NOT EXISTS must plan as a real anti join (no join product), with
    # the discount predicate pushed to the lineitem scan
    p = plans("order_priority_clean")
    assert "LeftAnti" in p
    assert re.search(r"PushedFilters: \[.*l_discount", p)


def test_hash_splits_narrow_zero_shuffle(plans):
    # split assignment is a pure per-row projection — no exchange at all
    assert "Exchange" not in plans("hash_splits")


def test_source_quota_pushes_group_limit(plans):
    # the per-source quota prunes to k rows per group BEFORE the window
    # shuffle (same WindowGroupLimit property as top3_per_nation)
    assert "WindowGroupLimit" in plans("source_quota")


def test_order_gaps_window_shuffle_reused(plans):
    # the groupBy(custkey) rides the window's custkey partitioning —
    # one exchange total
    p = plans("customer_order_gaps")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "Window" in p


def test_weighted_sample_narrow_zero_shuffle(plans):
    # importance sampling is a pure per-row filter — no exchange, and
    # the hash-uniform math stays in codegen (no Python)
    p = plans("weighted_doc_sample")
    assert "Exchange" not in p
    assert "Python" not in p  # no BatchEvalPython / ArrowEvalPython


def test_multimodal_chain_python_only_in_codec_steps(plans):
    # codec passes are Arrow mapInPandas and each runs ONCE: decode and
    # featurize appear in the plan; resize is hidden inside the lazy
    # localCheckpoint both its consumers (md5 + featurize) share — a
    # third visible MapInPandas would mean the resize pass is
    # duplicated per branch again
    p = plans("multimodal_chain")
    assert p.count("MapInPandas") == 2
    assert "Scan ExistingRDD" in p  # the shared checkpointed resize
    assert "BatchEvalPython" not in p  # no row-at-a-time Python UDFs


def test_ivf_topk_batch_broadcast_probes_and_group_limits(plans):
    # batch ANN: the probe table broadcasts into the single assignment
    # join (no SortMergeJoin, no cartesian against the base), and both
    # per-query windows (probe pick + top-k) get WindowGroupLimit
    p = plans("ivf_topk_batch")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "WindowGroupLimit" in p


def test_stratified_sample_broadcasts_normalizer(plans):
    # the per-stratum max table is tiny -> broadcast join; the only
    # shuffle is the normalizer aggregation itself, never the corpus
    p = plans("stratified_doc_sample")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "Python" not in p


def test_ivf_assignment_exchange_free_at_256_cells(spark, sf_dir):
    """The centroid table rides as ONE broadcast array<struct> row; the
    documented practical ceiling is n_cells*dims doubles of broadcast
    payload (256*64 = 16k doubles = 128 KB here — far under the 8 GB
    broadcast hard cap, fine to ~10^4 cells at 10^3 dims). What must
    NOT change with cell count is the plan shape: assignment stays a
    narrow per-row fold over the broadcast, with no shuffle exchange at
    any width."""
    from pagerank_mapreduce_implementation_spark.operators.similarity import ivf_assign
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    dims = 64
    cents = [
        [((i * dims + d) % 97) / 97.0 + 0.01 for d in range(dims)]
        for i in range(256)
    ]
    _, assign = ivf_assign(emb, n_cells=256, centroids=cents)
    p = plan_of(assign)
    assert "SortMergeJoin" not in p
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row centroid side
    # sanity: it executes and every vector lands in a valid cell
    cells = {r["cell_id"] for r in assign.select("cell_id").distinct().collect()}
    assert cells and all(1 <= c <= 256 for c in cells)


def test_seq_packing_two_phase_prefix_sum_shape(plans):
    """The distributed prefix sum keeps the SINGLE-partition window on
    the tiny bucket-totals side only: the corpus side is a per-bucket
    partitioned window + a broadcast join, never one global sort of
    every document."""
    p = plans("seq_packing")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    # exactly one single-partition exchange, and it feeds the
    # bucket-totals window (rows = corpus/bucket_size), not the corpus
    assert len(re.findall(r"Exchange SinglePartition", p)) == 1
    # corpus-side running sum is partitioned by the id bucket
    assert re.search(r"windowspecdefinition\(__bucket", p)


def test_seq_packing_bpe_same_prefix_sum_shape(plans):
    """The BPE twin must keep seq_packing's distributed prefix-sum
    shape — the tokenizer swap adds exactly one Arrow-batched Python
    eval for the piece COUNT and changes nothing about the windows:
    single-partition exchange only on the bucket totals, corpus window
    partitioned by the id bucket, broadcast join back."""
    p = plans("seq_packing_bpe")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert len(re.findall(r"Exchange SinglePartition", p)) == 1
    assert re.search(r"windowspecdefinition\(__bucket", p)
    assert "ArrowEvalPython" in p  # the one permitted Python pass


def test_embedding_quantize_zero_shuffle(plans):
    """Int8 quantization is pure per-row array math: NO exchange of any
    kind, no Python, and the scan reads only the two needed columns."""
    p = plans("embedding_quantize")
    assert "Exchange" not in p
    assert "Python" not in p
    scan_cols = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert scan_cols is not None
    assert len(scan_cols.group(1).split(",")) <= 2


def test_corpus_report_join_free_single_rollup(plans):
    """corpus_report must NOT join quality back by doc_id (quality is
    a projection of the same row — keep_cols rides it through one
    pass): no equi-join of any kind, just the source rollup, the tiny
    totals aggregate, and its 1-row broadcast back."""
    p = plans("corpus_report")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" not in p  # no doc_id equi-join survives
    assert p.count("BroadcastNestedLoopJoin") == 1  # the 1-row total
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 2


def test_mad_outliers_no_docid_join_back(plans):
    """mad_outliers' quality scores ride keep_cols through ONE narrow
    pass — never a corpus-vs-corpus doc_id join back to documents
    (round-13 verdict: broadcastable at sf0.1, corpus x corpus at
    100 TB). The only joins allowed are the per-source median/MAD
    stats broadcasts; no shuffle join of any kind."""
    p = plans("mad_outliers")
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    # every remaining join is a tiny per-source stats broadcast, and
    # none of them keys on doc_id
    for cond in re.findall(r"BroadcastHashJoin \[([^\]]*)\]", p):
        assert "doc_id" not in cond, cond


def test_audio_features_two_arrow_passes_no_shuffle_before_join(plans):
    """The audio chain is mapInPandas plumbing end-to-end: Arrow evals
    for synth+decode+featurize, a single join of two slim metadata
    branches, and NO sort-merge join or corpus shuffle — the blobs
    never move between executors."""
    p = plans("audio_features")
    assert "SortMergeJoin" not in p
    assert "MapInPandas" in p
    assert "Exchange rangepartitioning" not in p


def test_packed_bins_no_expand_no_global_sort(plans):
    """Bin assembly carries ONE inherent big shuffle (tokens keyed on
    bin_id); what must never appear around it: a countDistinct Expand
    (would double that shuffle — n_docs rides a doc-head flag instead),
    a global sort of the token stream, or a sort-merge join (the layout
    joins back by broadcast). The single-partition exchange allowance
    is the layout's tiny bucket-totals window."""
    p = plans("packed_bins")
    assert "Expand" not in p
    assert "SortMergeJoin" not in p
    # exactly ONE join in the whole plan: the broadcast of the tiny
    # bucket-prefix table, keyed on __bucket — the r6 inline rewrite
    # removed the corpus-wide doc_id layout join entirely (it was
    # broadcastable at test scale but a corpus-vs-corpus sort-merge at
    # 100 TB)
    assert p.count("BroadcastHashJoin") == 1
    assert re.search(r"BroadcastHashJoin \[__bucket", p)
    assert len(re.findall(r"Exchange SinglePartition", p)) == 1
    assert "Exchange rangepartitioning" not in p


def test_classify_domains_zero_shuffle_narrow_scan(plans):
    """classify_domains (registered r15) is pure per-row column math —
    tokenize once, one size(filter()) per domain, integer-encoded
    argmax: NO exchange of any kind, no Python, and the scan reads
    only (doc_id, text)."""
    p = plans("classify_domains")
    assert "Exchange" not in p
    assert "Python" not in p
    scan_cols = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert scan_cols is not None
    assert len(scan_cols.group(1).split(",")) <= 2


def test_user_purchase_trend_batched_not_per_group_python(plans):
    """The Theil-Sen query rides the BATCHED grouped surface: one
    hash-partitioned collect_list aggregation (JVM shuffle with partial
    aggregation) + one vectorized Arrow eval over the packed arrays —
    NOT applyInPandas' per-group FlatMapGroupsInPandas (the ~3 ms/group
    fixed cost the r5 bench measured). The type filter reaches the
    parquet scan."""
    p = plans("user_purchase_trend")
    assert "FlatMapGroupsInPandas" not in p
    assert "ArrowEvalPython" in p
    assert re.search(r"PushedFilters: \[.*event_type", p)
    assert "SortMergeJoin" not in p


def test_lm_scores_two_shuffle_silhouette(plans):
    """lm_scores shares tf-idf's shape: tokenize (narrow) -> word-count
    shuffle -> join back (broadcast at this scale) -> per-doc agg
    shuffle. No sort-merge join, no cartesian of the corpus."""
    p = plans("lm_scores")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_source_mix_broadcasts_rates_no_corpus_sort_join(plans):
    """source_mix: the per-source rate table (sources x 1 rows) joins
    back as a broadcast; the only corpus shuffle is the tiny-payload
    source-totals aggregation."""
    p = plans("source_mix")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_cms_probe_join_broadcast(plans):
    """cms_word_counts: the probe side joins the fixed-size sketch via
    broadcast — never a sort-merge of the sketch."""
    p = plans("cms_word_counts")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_signup_funnel_no_cartesian(plans):
    """Funnel frontier joins are equi-joins on the user key with a
    range residual — never a cartesian/range explosion."""
    p = plans("signup_funnel")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_single_scan_single_corpus_shuffle(spark, sf_dir):
    """bm25_search pivots the query-term tfs into the per-doc length
    aggregation: the EXECUTED adaptive plan must tokenize the corpus
    exactly once (one Generate/explode), reuse that aggregation's
    exchange for the avgdl/df branch, and never sort-merge join."""
    qs = entrymod.queries()
    df = qs["bm25_search"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert final.count("Generate explode") == 1
    assert "SortMergeJoin" not in final and "CartesianProduct" not in final
    # one corpus shuffle (the doc_id agg) + the 1-row stats partition;
    # the stats branch REUSES the agg exchange rather than rescanning
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 2
    assert ("ReusedExchange" in final) or ("ReusedQueryStage" in final)


def test_substring_runs_window_keyed_by_pair_and_diagonal(spark, sf_dir):
    """substring_dedup's gaps-and-islands window partitions by
    (doc_a, doc_b, diagonal) — candidate-volume-sized — never by a
    corpus-wide key; candidates come from the gram-hash equi-join,
    never a cartesian. Inspected on the LAZY operator — the registry
    query's eager checkpoint (materialize=True since round 9)
    truncates the lineage to a LogicalRDD scan."""
    from pagerank_mapreduce_implementation_spark.operators import dedup
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    p = plan_of(
        dedup.substring_runs(
            Catalog(spark, sf_dir).documents, k=8, min_len=12, max_gram_df=64
        )
    )
    assert "CartesianProduct" not in p
    # every window spec opens with the pair columns
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs
    for s in specs:
        assert s.startswith("doc_a#") and ", doc_b#" in s


def test_phash_images_one_arrow_pass_no_shuffle(spark):
    """The hashing pass is ONE Arrow mapInPandas over the blobs —
    narrow, zero exchanges; the default phash_near_dups persists it so
    the band self-join reads the hashes twice without re-decoding."""
    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    blobs = spark.createDataFrame(
        [(i, mm.phash_test_image(i)) for i in range(4)],
        "doc_id long, content binary",
    )
    p = plan_of(mm.phash_images(blobs))
    assert p.count("MapInPandas") == 1
    assert "Exchange" not in p
    # the band join over the fingerprints: equi-join on (chunk, key),
    # never the all-pairs product
    p2 = plan_of(mm.phash_near_dups(blobs, materialize=False))
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2


def test_video_frame_hashes_one_fused_arrow_pass(spark):
    """Video demux+sample+hash is ONE fused Arrow mapInPandas (round
    9): a separate demux stage would ship every frame's bytes through
    a JVM round-trip only to re-enter Python for hashing — at video
    scale the frames are the data. Narrow: zero exchanges."""
    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    frames = [mm.phash_test_image(i) for i in range(3)]
    blobs = spark.createDataFrame(
        [(1, mm.frames_pack(frames))], "doc_id long, content binary"
    )
    fh = mm.video_frame_hashes(blobs, every_n=2)
    p = plan_of(fh)
    assert p.count("MapInPandas") == 1
    assert "Exchange" not in p
    # fused output matches the composable sample_frames -> hash path
    got = {(r.doc_id, r.frame_idx, r.fhash) for r in fh.collect()}
    want = {
        (1, i, mm.ppm_ahash(f)) for i, f in enumerate(frames) if i % 2 == 0
    }
    assert got == want


def test_hamming_store_probe_broadcasts_store_chunk_index(spark):
    """The batch-vs-store probe (round 9, shared by streaming_phash_
    probe and dedup_media's fingerprint store): the store's chunk
    index joins BROADCAST under the default — a stream/batch-side
    shuffle against a fingerprint store would serialize ingestion on
    the store's partitioning — and never sort-merge or cartesian."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    fp = spark.createDataFrame(
        [(i, i * 37) for i in range(20)], "doc_id long, phash long"
    )
    store = spark.createDataFrame(
        [(100 + i, i * 37) for i in range(20)], "doc_id long, phash long"
    )
    p = plan_of(dedup.hamming_store_probe(fp, store, "phash", 10))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_semdedup_plan_cluster_bounded(spark):
    """SemDeDup's scale contract: no all-pairs product anywhere (the
    cluster self-join is an equi-join on cell_id), centroid assignment
    is the broadcast 1-row fold (cross joins in the plan are only that
    1-row broadcast), and the victim drop-list enters the final
    anti-join as a BROADCAST."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    out = dedup.semdedup(docs, emb, n_cells=4, threshold=0.4, n_iters=1)
    p = plan_of(out)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_dsir_weights_broadcasts_bucket_tables_no_cartesian(spark, sf_dir):
    """DSIR's per-bucket log-ratio table (B rows, a plan-time
    constant) must reach the doc-side join as a BROADCAST — never a
    sort-merge of the corpus against B rows — and the totals must be
    a broadcast 1-row aggregate (the crossJoin is the scalar-subquery
    pattern, not a data cartesian)."""
    qs = entrymod.queries()
    df = qs["dsir_weights"](spark, sf_dir)
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    # the ONLY tolerated sort-merge is the B-row-vs-B-row full-outer
    # dist merge (full outer cannot broadcast-hash); the corpus-side
    # lam attachment must never be one
    smj = re.findall(r"SortMergeJoin \[[^\]]*\], \[[^\]]*\], (\w+)", final)
    assert all(t == "FullOuter" for t in smj), smj
    # the 1-row totals ride BroadcastNestedLoopJoin (scalar pattern)
    assert "CartesianProduct" not in final


def test_bigram_lm_no_positional_self_join(spark, sf_dir):
    """Bigrams come from a per-row adjacent-pair transform — the plan
    must contain NO join of the token table against itself on
    (doc_id, pos±1); the only joins are the vocab-bounded count
    attachments. Cheap necessary check: no cartesian, and every join
    is hash-based."""
    qs = entrymod.queries()
    df = qs["bigram_lm"](spark, sf_dir)
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    # adjacent pairs are built by per-row explodes of the transform —
    # the bigram table is consumed by two branches (counts + the
    # score join back) and Catalyst clones the explode into each
    # (the documented tf_idf rescan trade), plus one vocab explode:
    # four corpus-side Generates, every one narrow, ZERO self-joins
    assert final.count("Generate explode") <= 4
    assert "SortMergeJoin" not in final or "doc_id" not in "".join(
        re.findall(r"SortMergeJoin \[[^\]]*doc_id[^\]]*\]", final)
    )


def test_entropy_stats_zero_exchange(spark, sf_dir):
    """The entropy battery is a pure per-row fold: its UNSTAGED plan
    (operator applied directly to the scan, no registry repartition)
    must contain ZERO exchanges — scan-speed at any corpus size."""
    from pagerank_mapreduce_implementation_spark.operators import textstats
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    p = plan_of(textstats.entropy_stats(Catalog(spark, sf_dir).documents))
    assert "Exchange" not in p


def test_bloom_probe_broadcasts_filter(spark, sf_dir):
    """Both bloom probes join the <= n_bits/32-row word table as a
    BROADCAST against the item side — the filter is the small side by
    construction; a sort-merge here would shuffle the corpus to meet
    a few-KB table."""
    import pyspark.sql.functions as _F

    from pagerank_mapreduce_implementation_spark.operators.sketches import (
        bloom_filter_table,
        bloom_membership_rowwise,
    )
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    qs = entrymod.queries()
    df = qs["bloom_probe"](spark, sf_dir)
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    # the row-wise (streaming) probe: every one of the k joins is a
    # broadcast against the word table (the streaming registry query
    # itself only exposes the memory sink's LocalTableScan)
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", _F.md5("text").alias("item")
    )
    flt = bloom_filter_table(docs, "item", n_bits=1024, n_hashes=3)
    p = plan_of(
        bloom_membership_rowwise(docs, flt, "item", n_bits=1024, n_hashes=3)
    )
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_novelty_scores_df_join_reuses_shingle_partitioning(spark, sf_dir):
    """novelty's df groupBy and the join back are both keyed on the
    shingle: the executed plan must not re-exchange the shingle table
    for the join (ReusedExchange / aligned partitioning), and the
    whole query carries at most the three inherent hashpartitioning
    exchanges (shingle distinct, df agg side, doc gather)."""
    qs = entrymod.queries()
    df = qs["novelty_scores"](spark, sf_dir)
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    n_ex = len(re.findall(r"Exchange hashpartitioning", final))
    assert n_ex <= 3, f"{n_ex} exchanges — shingle partitioning not reused"


def test_hits_loop_shape_no_mid_iteration_barriers(spark, sf_dir):
    """The round-10 hits rewrite: the returned plan must read the
    final iteration's state from CHECKPOINTED blocks (localCheckpoint
    scans — the norm fold happened against materialized data, never a
    lazy broadcast subplan), join it with the vertex zero-fill, and
    carry no cartesian; the normalizers must already be literals
    (no SubqueryExchange / scalar-subquery nodes left in the plan)."""
    from pagerank_mapreduce_implementation_spark.operators import graph

    df = graph.hits(entrymod._edges(spark, sf_dir), n_iters=3)
    p = plan_of(df)
    assert "Scan ExistingRDD" in p          # checkpointed state feeds it
    assert "CartesianProduct" not in p
    assert "Subquery" not in p              # norms folded to literals


def test_cdc_chunks_zero_shuffle(plans):
    """cdc_chunks is pure per-doc array expressions + a narrow
    explode: no exchange of any kind, no Python workers."""
    p = plans("cdc_chunks")
    assert "Exchange" not in p
    assert "Python" not in p


def test_cdc_dedup_key_bounded_shuffles(plans):
    """cdc_dedup: chunk-hash occurrence agg (map-side partials) +
    join back + doc rollup — hashpartitioning exchanges only on the
    two keys, no cartesian, no Python. At test scale AQE broadcasts
    the occurrence side; at scale both join inputs hashpartition on
    chunk_hash and the agg exchange is reused."""
    p = plans("cdc_dedup")
    assert "CartesianProduct" not in p
    assert "Python" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 4
    assert p.count("HashAggregate") >= 2  # partial+final on the hash key


def test_pq_encode_zero_shuffle_literal_codebooks(plans):
    """pq_encode's returned frame scores against LITERAL codebooks:
    no exchange, no join, no Python — training already folded to
    plan-time constants (the plane-literal convention)."""
    p = plans("pq_encode")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "Python" not in p


def test_pq_topk_take_ordered_no_global_sort(plans):
    """pq_topk: ADC scoring is literal folds; the top-k must be a
    TakeOrderedAndProject, never a global Sort+Exchange."""
    p = plans("pq_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p
    assert "Python" not in p


def test_unimax_mix_broadcast_join_no_corpus_shuffle(plans):
    """unimax_mix's action-time plan: scan + broadcast-join the tiny
    rates dim + filter — the corpus itself never hash-partitions
    (the mix_sources / weighted_sample contract)."""
    p = plans("unimax_mix")
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p


def test_ivf_pq_topk_broadcast_probe_take_ordered(plans):
    """ivf_pq_topk: probe cells and the query arrive as broadcasts
    (never a corpus shuffle), ADC scoring is literal folds, top-k is
    TakeOrderedAndProject."""
    p = plans("ivf_pq_topk")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange hashpartitioning" not in p
    assert "Python" not in p


def test_temperature_mix_broadcast_join_no_corpus_shuffle(plans):
    """temperature_mix shares unimax_mix's action-time plan: scan +
    broadcast rates dim + filter, never a corpus shuffle."""
    p = plans("temperature_mix")
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p


def test_changelog_compact_single_agg_no_window(plans):
    """changelog_compact is ONE key shuffle with partial+final max_by
    aggregation — no Window operator (a row_number window would
    serialize a hot key's entire history through one task) and no
    Python."""
    p = plans("changelog_compact")
    assert "Window" not in p
    assert "Python" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1
    # max_by over a struct plans as Sort/ObjectHash aggregate — any
    # flavor is fine as long as it appears as partial+final pairs
    assert len(re.findall(r"(?:Sort|Hash|ObjectHash)Aggregate", p)) >= 2


def test_changelog_apply_anti_join_no_window(plans):
    """changelog_apply = batch compaction + LEFT ANTI join + union:
    still no Window, no cartesian, no Python; the snapshot side is
    touched by the anti join only."""
    p = plans("changelog_apply")
    assert "Window" not in p
    assert "Python" not in p
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p


def test_lpa_returns_checkpointed_state_no_window(spark, sf_dir):
    """label_propagation's returned frame reads the final round's
    state from checkpointed blocks; the per-round argmax is a min_by
    aggregate, so no Window operator ever appears."""
    from pagerank_mapreduce_implementation_spark.operators import graph

    df = graph.label_propagation(entrymod._edges(spark, sf_dir), n_rounds=2)
    p = plan_of(df)
    assert "Scan ExistingRDD" in p
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_bpe_train_vocab_fold_stays_jvm_side(spark, sf_dir):
    """bpe_train's merge table is driver-built (the model), but the
    work happens in the per-merge argmax jobs: verify the PAIR-COUNT
    plan over the vocab is pure JVM (explode + hash agg, no Python)
    and the argmax is TakeOrdered, not a global sort."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import text
    from pagerank_mapreduce_implementation_spark.sources import Catalog

    docs = Catalog(spark, sf_dir).documents
    vocab = (
        text.tokenize(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "word",
            "cnt",
            F.concat(
                F.expr(
                    "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
                ),
                F.array(F.lit("</w>")),
            ).alias("symbols"),
        )
    )
    pair_struct = F.expr(
        "transform(slice(symbols, 1, size(symbols) - 1),"
        " (s, i) -> struct(s AS l, symbols[i + 1] AS r))"
    )
    argmax = (
        vocab.select(F.col("cnt"), F.explode(pair_struct).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
        .limit(1)
    )
    p = plan_of(argmax)
    assert "Python" not in p
    assert "TakeOrderedAndProject" in p  # limit(1), never a global sort
    assert "Generate explode" in p


def test_retention_cohorts_no_window_no_cartesian(plans):
    """retention_cohorts: first-touch agg + user-keyed join back +
    distinct count — no Window, no cartesian, no Python."""
    p = plans("retention_cohorts")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_rolling_active_users_bounded_explode_no_self_join(plans):
    """rolling_active_users: ONE Generate explode (the plan-constant
    window fan-out) and no join of the log against itself — the
    days-dim join is the only join and its build side is day-count
    sized (AQE broadcasts it)."""
    p = plans("rolling_active_users")
    assert p.count("Generate explode") == 1
    assert "CartesianProduct" not in p
    assert "Window" not in p


def test_grouping_sets_single_expand_single_scan(spark, sf_dir):
    """pricing_grouping_sets computes all three sets in ONE Expand +
    hash-agg pass: exactly one Expand node, one lineitem scan, no
    union of per-set aggregations."""
    df = entrymod.queries()["grouping_sets_pricing"](spark, sf_dir)
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert final.count("Expand") == 1
    assert final.count("Scan parquet") == 1
    assert "Union" not in final


def test_tfidf_doc_pairs_no_cartesian_capped_join(spark, sf_dir):
    """tfidf_doc_pairs candidates come from the word equi-join over
    the df-capped postings — never a cartesian/nested-loop product —
    and the decimal casts keep the dot/norm sums in the plan (the
    order-independence contract)."""
    df = entrymod.queries()["tfidf_doc_pairs"](spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "decimal(18,6)" in p


def test_bfs_frontier_join_no_window_no_cartesian(spark, sf_dir):
    """bfs_distances rounds are frontier joins + anti-joins: the
    returned state is an eager checkpoint (LogicalRDD scan — lineage
    truncated across rounds, the LoopScope contract), so the
    final plan must not drag the whole round stack."""
    df = entrymod.queries()["bfs_distances"](spark, sf_dir)
    p = plan_of(df)
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p and "Window" not in p


def test_kcore_state_checkpointed(spark, sf_dir):
    """kcore's returned degrees read the final surviving-edge state
    through an eager checkpoint, not 5 rounds of stacked semi-joins."""
    df = entrymod.queries()["kcore_peel"](spark, sf_dir)
    p = plan_of(df)
    assert "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p or p.count("SortMergeJoin") <= 1


def test_bipartite_projection_banded_join_shape(plans):
    """The co-purchase pairing must stay an equi-join on the shared
    right vertex (df-capped fan-out), never a cartesian/nested-loop,
    and the window-free count path must hold (no per-vertex sort)."""
    p = plans("bipartite_projection")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p


def test_edit_verified_dups_no_cartesian(plans):
    """Banded-Levenshtein verify touches ONLY the LSH candidate pairs:
    a cartesian/nested-loop here would mean the verify degenerated to
    all-pairs text comparison."""
    p = plans("edit_verified_dups")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_winnow_matches_shape(plans):
    """Fingerprint pairing keys on fp with map-side-partial counting:
    one Arrow selection pass, no window, no cartesian."""
    p = plans("winnow_matches")
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p and "Window" not in p


def test_training_shards_manifest_is_parquet_backed(plans):
    """The registered program query returns the manifest READ BACK
    from its parquet write — a file scan, not the live pipeline plan
    (the write already happened when the query constructs)."""
    p = plans("training_shards")
    assert "FileScan parquet" in p
    assert "MapInPandas" not in p  # packing ran at write time, not here


def test_profile_drift_where_single_scan(spark, sf_dir):
    """profile_drift_where profiles old and new out of ONE scan
    (conditional aggregation) — the scan-bound variant's contract;
    the registered profile_drift query stays on the two-frame form
    (A/B: fusion 2.1x slower warm, see its docstring)."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import relational as rel
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog as Cat

    li = Cat(spark, sf_dir).lineitem
    df = rel.profile_drift_where(
        li, F.col("l_orderkey") % 3 != 0, ["l_orderkey", "l_quantity"]
    )
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "Union" not in final


def test_luhn_scan_zero_shuffle(spark, sf_dir):
    """luhn_scan is a narrow scrub pass: regexp extraction + explode +
    integer fold, no Exchange of any kind."""
    from pagerank_mapreduce_implementation_spark.operators import redaction
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog as Cat

    docs = Cat(spark, sf_dir).documents.selectExpr("doc_id", "text")
    p = plan_of(redaction.luhn_scan(docs))
    assert "Exchange" not in p
    assert "Generate explode" in p or "Generate" in p


def test_packing_report_no_corpus_join(spark, sf_dir):
    """packing_report rides pack_sequences' two-phase prefix sum: the
    only joins are broadcasts of the tiny bucket-prefix table; no
    sort-merge join, no cartesian over the corpus."""
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog as Cat

    df = text_ops.packing_report(Cat(spark, sf_dir).documents, budget=512)
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "BroadcastHashJoin" in final


def test_calibrate_scores_broadcast_dims_no_smj(spark, sf_dir):
    """calibrate_scores joins only broadcast dim tables (group bounds,
    cell prefix) back to the corpus — never a corpus-vs-corpus
    sort-merge join; the per-cell windows are partitioned (no
    single-task corpus window)."""
    from pagerank_mapreduce_implementation_spark.operators import sampling as smp
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog as Cat

    df = smp.calibrate_scores(Cat(spark, sf_dir).documents, score_col="n_chars")
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_ks_drift_no_corpus_smj(spark, sf_dir):
    """ks_drift's only wide ops are the value group-by and the tiny
    broadcast of totals/cell-prefix; no sort-merge join anywhere."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import relational as rel
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog as Cat

    ev = Cat(spark, sf_dir).events
    df = rel.ks_drift(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "SortMergeJoin" not in final


def test_margin_matches_no_cartesian(spark, sf_dir):
    """margin_matches_ab candidates come from the banded LSH bucket
    join — the |A|x|B| product never materializes."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import similarity as sim
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog as Cat

    emb = Cat(spark, sf_dir).embeddings
    df = sim.margin_matches_ab(
        emb.filter(F.col("vec_id") % 3 == 0),
        emb.filter(F.col("vec_id") % 3 == 1),
        k=4,
    )
    df.collect()
    final = plan_of(df).split("+- == Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
