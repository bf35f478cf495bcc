"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (reference-parity PageRank over
a lineitem-derived supplier graph) at sf0.001. ``queries()`` /
``oracle_sql()`` pair every implemented operator from SURVEY.md §2 with
a DuckDB-equivalent ANSI-SQL oracle; column names are aliased
identically on both sides (the driver hashes values under sorted column
names).

Determinism notes:
- money-style double SUMs go through decimal(18,6) casts on BOTH sides
  (order-independent exact summation; see operators/relational.py).
- every floating-point output column is rounded (6 digits; money 2) on
  BOTH sides, and every top-k sort key includes a unique tiebreak
  column so the limit boundary is identical.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark import oracles, programs
from pagerank_mapreduce_implementation_spark.operators import (
    dedup,
    embeddings as emb_ops,
    graph,
    multimodal,
    relational,
    sampling,
    similarity,
    text,
    textstats,
)
from pagerank_mapreduce_implementation_spark.oracles import EDGES_SQL, pagerank_sql
from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

SEARCH_TERMS = ["spark", "window", "table"]

_SCRATCH = None


def _scratch_dir(sub: str) -> str:
    """Per-process scratch root, created once and auto-removed at
    interpreter exit (round-12 advice: per-invocation mkdtemp leaked a
    directory every bench rep / plan-shape test). One root per PROCESS
    keeps concurrent bench/driver runs collision-free — the reason a
    fixed shared path was rejected for the streaming index — while
    repeat invocations in the same process reuse (mode=overwrite) the
    same subdirectory instead of accumulating."""
    global _SCRATCH
    if _SCRATCH is None:
        import tempfile

        _SCRATCH = tempfile.TemporaryDirectory(prefix="spark_graft_scratch_")
    path = os.path.join(_SCRATCH.name, sub)
    os.makedirs(path, exist_ok=True)
    return path

#: queries() keys DELIBERATELY without an oracle_sql entry (the driver
#: records a weaker rows-only check for these): ops whose semantics are
#: not ANSI-SQL-expressible. EMPTY since round 14: pca_project — the
#: one former entry — now registers the fitted-basis-reuse projection
#: (frozen literal components -> plain SQL matmul oracle), leaving only
#: the d x d driver-side eigh outside SQL, where it is numpy-parity
#: pytest-gated (tests/test_staged_ops2.py::test_pca_matches_numpy).
NO_ORACLE_QUERIES: frozenset[str] = frozenset()

# DuckDB tokenizer CTEs — must mirror operators/text.py:tokenize
# (whitespace split, drop empties; doc pipeline lowercases).
_TOK = (
    "tok AS (SELECT doc_id, w AS word FROM (SELECT doc_id, "
    "unnest(regexp_split_to_array(text, '[[:space:]]+')) AS w FROM documents) WHERE w <> '')"
)
_TOK_LOWER = (
    "tok AS (SELECT doc_id, lower(w) AS word FROM (SELECT doc_id, "
    "unnest(regexp_split_to_array(text, '[[:space:]]+')) AS w FROM documents) WHERE w <> '')"
)
_TF = (
    "cnt AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word), "
    "tf AS (SELECT doc_id, word, 1.0 + log10(c) AS tf FROM cnt)"
)
_TFIDF = (
    "dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word), "
    "tfidf AS (SELECT t.doc_id, t.word, t.tf * log10(1.0 + "
    "CAST((SELECT count(*) FROM documents) AS DOUBLE)/dfreq.df) AS tfidf "
    "FROM tf t JOIN dfreq USING (word))"
)

# shared token-array CTE for the textstats oracles — mirror of
# textstats._tokens (whitespace split, drop empties, keep order)
_TOKS_ARR = (
    "t AS (SELECT doc_id, text, "
    r"list_filter(regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
    "FROM documents)"
)

_SQL_STOP = "[" + ", ".join(f"'{w}'" for w in textstats.STOPWORDS) + "]"


def _lang_id_sql() -> str:
    """Mirror of textstats.lang_id: marker-hit scores, max wins, ties to
    the lexicographically first language, zero -> 'unknown'."""
    langs = sorted(textstats.LANG_MARKERS)
    score_cols = ", ".join(
        "len(list_filter(toks, w -> list_contains(["
        + ", ".join(f"'{m}'" for m in textstats.LANG_MARKERS[lang])
        + f"], lower(w)))) AS s_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in langs
    )
    return (
        f"WITH {_TOKS_ARR}, s AS (SELECT doc_id, {score_cols} FROM t), "
        f"b AS (SELECT *, {best} AS best FROM s) "
        f"SELECT doc_id, CASE {case} ELSE 'unknown' END AS pred_lang, "
        "CAST(best AS INT) AS score FROM b"
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier graph from lineitem — the Spark twin of oracles.EDGES_SQL.

    dst spans 2x the supplier key range: half the targets are red links
    (dropped, PageRank.java:527); duplicate edges occur naturally and
    scatter rank once per occurrence (PageRank.java:454-468).
    """
    cat = Catalog(spark, sf_dir)
    n_supp = cat.supplier.count()
    return cat.lineitem.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(
            F.lit("s"), ((F.col("l_partkey") % (2 * n_supp)) + 1).cast("string")
        ).alias("dst"),
    )


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier graph with a quantity edge weight — Spark twin of
    oracles.WEIGHTED_EDGES_SQL."""
    cat = Catalog(spark, sf_dir)
    n_supp = cat.supplier.count()
    return cat.lineitem.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(
            F.lit("s"), ((F.col("l_partkey") % (2 * n_supp)) + 1).cast("string")
        ).alias("dst"),
        F.col("l_quantity").cast("double").alias("w"),
    )


def _q_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (graph.pagerank weight_col=): each edge
    scatters rank*w/sum_w — link-graph curation where edge strength
    (click counts, citation counts) matters."""
    ranks = graph.pagerank(
        _weighted_edges(spark, sf_dir), n_iters=10, mode="reference", weight_col="w"
    )
    return (
        ranks.select("url", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("url"))
        .limit(20)
    )


def _q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized (reset-vector) weighted textbook PageRank: teleport
    lands uniformly on the 'VIP' suppliers (s_suppkey % 10 == 0) —
    rank relative to a seed set, the curation primitive for 'find pages
    like these'."""
    cat = Catalog(spark, sf_dir)
    vip = cat.supplier.filter(F.col("s_suppkey") % 10 == 0)
    n_vip = vip.count()
    if n_vip == 0:
        raise ValueError(
            f"personalized_pagerank: no VIP suppliers (s_suppkey % 10 == 0) "
            f"in {sf_dir} — a reset vector needs a non-empty seed set"
        )
    rst = vip.select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("url"),
        F.lit(1.0 / n_vip).alias("reset"),
    )
    edges = _weighted_edges(spark, sf_dir)
    # Degenerate-reset guard (round-4 advice): a reset vector whose mass
    # never intersects the vertex set (VIPs with no lineitems) would make
    # every rank decay toward 0 — silently, since the oracle mirrors the
    # same decay. Fail loudly instead. Existence probe on the pruned
    # single-column lineitem scan (a VIP supplier is a vertex iff it
    # ships any lineitem; l_quantity > 0 in TPC-H, so "has an edge row"
    # == "weights sum nonzero"), not a distinct over the edge list.
    live = (
        cat.lineitem.filter((F.col("l_suppkey") % 10) == 0).limit(1).count()
    )
    if live == 0:
        raise ValueError(
            f"personalized_pagerank: none of the {n_vip} VIP suppliers appear "
            f"as graph vertices in {sf_dir} — the aligned reset vector would "
            "be all zeros and every rank would decay toward 0"
        )
    ranks = graph.pagerank(
        edges,
        n_iters=10,
        mode="textbook",
        weight_col="w",
        reset=rst,
    )
    return (
        ranks.select("url", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("url"))
        .limit(20)
    )


def _q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the supplier link graph
    (graph.degree_histogram) — the skew profile read before a PageRank
    run: duplicate edges counted like the scatter, dangling vertices
    as the out_degree = 0 row from two scalar counts (no vertex
    anti-join)."""
    return graph.degree_histogram(_edges(spark, sf_dir))


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = graph.pagerank(_edges(spark, sf_dir), n_iters=10, mode="reference")
    return (
        ranks.select("url", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("url"))
        .limit(20)
    )


def _q_pagerank_textbook(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = graph.pagerank(_edges(spark, sf_dir), n_iters=10, mode="textbook")
    return (
        ranks.select("url", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("url"))
        .limit(20)
    )


def _q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.word_count(Catalog(spark, sf_dir).documents)


def _q_salted_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe word count via the two-phase salted aggregation
    (operators/skew.py): stopwords ARE the classic skewed key — one
    reducer would hold 'the' at corpus scale. Result is identical to
    the plain word_count (same oracle SQL), which is the point: the
    salting is a pure physical rewrite."""
    from pagerank_mapreduce_implementation_spark.operators.skew import salted_sum

    toks = text.tokenize(Catalog(spark, sf_dir).documents)
    counted = salted_sum(
        toks.select("word"), ["word"], "word", salt_buckets=16, agg=F.count
    )
    return counted.select("word", F.col("word_agg").alias("cnt"))


def _q_word_count_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23 with the jar's EXACT ``\\s*\\b\\s*`` tokenizer
    (WordCount$Map.class @11): punctuation runs survive as tokens. The
    corpus is punctuation-free, so a deterministic ``', '`` separator
    rewrite makes the boundary path observable (whitespace tokenization
    would yield 'word,' tokens instead)."""
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", F.regexp_replace("text", " ", ", ").alias("text")
    )
    return text.word_count(docs, pattern=text.TOKEN_BOUNDARY_RE)


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining chunk/pack step (operators/text.chunk_documents):
    32-token windows, stride 24 — one narrow pass, chunk rows only."""
    return text.chunk_documents(
        Catalog(spark, sf_dir).documents, window=32, stride=24
    )


def _q_doc_chunks_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk/pack over SUBWORD tokens (text.chunk_documents_bpe): the
    vendored deterministic BPE tokenizer (functions/bpe.py) feeds the
    same 32/24 window arithmetic as doc_chunks — training packs are
    sized in subword tokens, not whitespace words. Oracle = the merge
    table replayed as a DuckDB recursive CTE (hash-exact, not
    rows-only)."""
    return text.chunk_documents_bpe(
        Catalog(spark, sf_dir).documents, window=32, stride=24
    )


def _q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal quality signal (textstats.lm_scores): mean
    -log10 p(word) per doc under the corpus' own unigram distribution —
    the cheap perplexity-style outlier filter of real data pipelines."""
    return textstats.lm_scores(Catalog(spark, sf_dir).documents)


def _q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence-packing layout (text.pack_sequences): every
    doc's position in the concatenated token stream and its 512-token
    training bin — computed as a two-phase distributed prefix sum
    (per-id-bucket running sums + broadcast bucket offsets), never one
    global window. All-integer, so the oracle is bit-exact trivially."""
    return text.pack_sequences(
        Catalog(spark, sf_dir).documents, budget=512, bucket_size=64
    )


def _q_seq_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seq_packing over SUBWORD tokens (text.pack_sequences with
    tokenizer='bpe'): bins are budgeted in BPE pieces — the real
    training-pack contract (round-5 verdict item 6). Same two-phase
    distributed prefix sum; the only Python is one Arrow pass for the
    per-doc piece count. Oracle replays the vendored merge table as a
    DuckDB recursive CTE (hash-exact, not rows-only)."""
    return text.pack_sequences(
        Catalog(spark, sf_dir).documents,
        budget=512,
        bucket_size=64,
        tokenizer="bpe",
    )


def _q_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin ASSEMBLY (text.pack_bins): the actual 512-token training
    sequences pack_sequences lays out — docs concatenated in id order
    and cut at bin boundaries, one row per bin with its token text.
    The only full-corpus shuffle is the inherent one (the output is a
    reordered copy of the tokens), keyed on bin_id with per-bin state
    bounded by the budget."""
    return text.pack_bins(
        Catalog(spark, sf_dir).documents, budget=512, bucket_size=64
    )


def _q_source_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional per-source curation quota
    (sampling.top_fraction_per_group): best 30% of EVERY source by
    quality score — scales with the source where quota_sample's
    absolute k does not. One shuffle on the group key serving both
    window functions; deterministic cut via the (score DESC, doc_id)
    tiebreak."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        top_fraction_per_group,
    )

    scored = textstats.quality_scores(
        Catalog(spark, sf_dir).documents,
        keep_cols=("source",),
        score_only=True,
    )
    return top_fraction_per_group(scored, 0.3, "quality", "source").select(
        "doc_id", "source", "quality"
    )


def _q_packed_bins_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin assembly WITH the document-boundary map
    (text.pack_bins(with_doc_spans=True)): each 512-token bin carries
    ``doc_spans`` — "off:doc_id;..." — the block-diagonal attention
    mask / position-id reset input a trainer needs over packed
    sequences. doc_id rides only the one-per-(doc,bin) head tokens
    through the inherent shuffle; encoded as one canonical string so
    the cross-engine hash is stable."""
    return text.pack_bins(
        Catalog(spark, sf_dir).documents,
        budget=512,
        bucket_size=64,
        with_doc_spans=True,
    )


def _q_doc_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_word_count(Catalog(spark, sf_dir).documents)


def _q_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = text.term_frequency(Catalog(spark, sf_dir).documents)
    return tf.select("doc_id", "word", F.round("tf", 6).alias("tf"))


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.tf_idf(Catalog(spark, sf_dir).documents)
    return out.select("doc_id", "word", F.round("tfidf", 6).alias("tfidf"))


def _q_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = text.search(text.tf_idf(Catalog(spark, sf_dir).documents), SEARCH_TERMS)
    return scored.select("doc_id", F.round("score", 6).alias("score"))


def _q_search_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = text.search(text.tf_idf(Catalog(spark, sf_dir).documents), SEARCH_TERMS)
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pricing_summary(Catalog(spark, sf_dir).lineitem)


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return relational.top_customers_by_revenue(cat.customer, cat.orders, cat.lineitem)


def _q_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return relational.nation_order_stats(cat.customer, cat.orders, cat.nation, cat.region)


def _q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return relational.order_priority_counts(cat.orders, cat.lineitem)


def _q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup over the part dimension (broadcast join)."""
    cat = Catalog(spark, sf_dir)
    return relational.brand_revenue(cat.part, cat.lineitem)


#: fixed probe set for the count-min query: the search terms, two more
#: common corpus words, and one absent word (est stays >= exact == 0)
CMS_ITEMS = ["spark", "window", "table", "the", "merge", "zzqx_absent"]

#: probe users for the STREAMING count-min twin (stringified ids; the
#: last never occurs — its estimate still bounds exact == 0 from above)
CMS_USER_ITEMS = ["0", "1", "7", "42", "149", "999999"]


def _q_streaming_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min (streaming/queries.streaming_cms_cells):
    per-user frequency estimates with state = the fixed depth x width
    cell table, never a per-user map — the bounded-state answer to
    streaming heavy-hitter monitoring. Commutative integer adds make
    the streamed cells identical to the batch sketch, so this twin is
    hash-exact against the batch CMS SQL oracle (unlike the HLL twin,
    whose registers are implementation-defined)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.operators import sketches

    ev = strm.read_events_stream(spark, sf_dir)
    cells = strm.streaming_cms_cells(ev)
    name = f"_stream_cms_{next(_STREAM_SEQ)}"
    strm.run_to_memory(cells, name, output_mode="complete", state_partitions=8)
    est = sketches.count_min_estimates(
        spark.table(name), CMS_USER_ITEMS, depth=4, width=256
    )
    exact = (
        Catalog(spark, sf_dir)
        .events.select(F.col("user_id").cast("string").alias("item"))
        .filter(F.col("item").isin(CMS_USER_ITEMS))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return est.join(exact, "item", "left").select(
        "item",
        "est",
        F.coalesce("exact", F.lit(0)).alias("exact"),
        (F.col("est") - F.coalesce("exact", F.lit(0))).alias("overcount"),
    )


#: target mixture for the data-mixing query: three sources at 50/30/20
#: token proportions; the other 17 sources drop (not in the recipe)
MIX_TARGET = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def _q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data mixing (sampling.mix_sources): deterministic
    per-source subsampling so surviving token mass hits the 50/30/20
    target — the binding source keeps everything, the rest thin out by
    the IEEE-exact md5-uniform coin. Returns the surviving doc rows."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import mix_sources

    return mix_sources(Catalog(spark, sf_dir).documents, MIX_TARGET).select(
        "doc_id", "source", "n_chars"
    )


def _q_signup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel (sessions.event_funnel): signup -> click ->
    purchase within 72h of the user's first signup; per-user step
    timestamps + reach count. One vertex-sized frontier join per step,
    never a per-user event collection."""
    from pagerank_mapreduce_implementation_spark.operators.sessions import event_funnel

    return event_funnel(
        Catalog(spark, sf_dir).events,
        ["signup", "click", "purchase"],
        within_hours=72,
    )


def _q_user_purchase_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-Arrow batch surface (operators/grouped.grouped_theilsen):
    per-user Theil-Sen robust slope of purchase value over time — a
    median over the O(n²) PAIRWISE slope set, which no built-in
    aggregate expresses (the r5 demo kernel was a median F.percentile
    computes JVM-side; round-5 verdict item 4). Batched mode: built-in
    collect_list shuffle + ONE vectorized Pandas UDF over many groups
    per Arrow batch, dodging applyInPandas' ~3 ms/group fixed cost.
    The oracle proves the kernel with the quadratic self-join SQL the
    Python path exists to avoid."""
    from pagerank_mapreduce_implementation_spark.operators.grouped import (
        grouped_theilsen,
    )

    ev = Catalog(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    pts = ev.select(
        "user_id",
        # epoch micros div 1e6: double-exact (micros < 2^53), and the
        # identical IEEE division runs in the DuckDB oracle
        (F.unix_micros("ts") / F.lit(1000000.0)).alias("x"),
        F.col("value").alias("y"),
    )
    return grouped_theilsen(pts, "user_id", "x", "y")


def _q_cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates (sketches.count_min_sketch_table):
    depth x width counters — fixed state at ANY vocabulary size,
    mergeable cell-wise across shards/days like the HLL rollup — probed
    for a fixed item list and self-audited against the exact counts
    (overcount >= 0 is the CMS guarantee, bounded by collisions).
    Fully deterministic (commutative integer sums), so unlike HLL/GK
    this sketch is hash-exact against its SQL oracle."""
    from pagerank_mapreduce_implementation_spark.operators import sketches

    toks = text.tokenize(Catalog(spark, sf_dir).documents)
    sk = sketches.count_min_sketch_table(toks, "word", depth=4, width=256)
    est = sketches.count_min_estimates(sk, CMS_ITEMS, depth=4, width=256)
    exact = (
        toks.filter(F.col("word").isin(CMS_ITEMS))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact"))
        .withColumnRenamed("word", "item")
    )
    return est.join(exact, "item", "left").select(
        "item",
        "est",
        F.coalesce("exact", F.lit(0)).alias("exact"),
        (F.col("est") - F.coalesce("exact", F.lit(0))).alias("overcount"),
    )


def _q_returnflag_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE grouping-set aggregation (relational.lineitem_cube) —
    all 4 grouping combinations of (returnflag, linestatus) in one
    Expand+agg pass."""
    return relational.lineitem_cube(Catalog(spark, sf_dir).lineitem)


def _q_salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brand_revenue through the SALTED join (operators/skew.py): big
    side salted, dim replicated per salt — the rewrite for a hot fact
    key that one reducer would otherwise own. Value-identical to the
    plain join by construction (same oracle SQL as brand_revenue, like
    salted_word_count's relationship to word_count): salting is a pure
    physical strategy, never a semantic knob."""
    from pagerank_mapreduce_implementation_spark.operators.relational import dsum
    from pagerank_mapreduce_implementation_spark.operators.skew import salted_join

    cat = Catalog(spark, sf_dir)
    big = cat.lineitem.select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    small = cat.part.select("p_partkey", "p_brand")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        salted_join(big, small, "p_partkey")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum(disc_price).alias("revenue"))
        .orderBy("p_brand")
    )


def _q_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dim chain join over supplier -> nation (both broadcast)."""
    cat = Catalog(spark, sf_dir)
    return relational.supplier_nation_revenue(cat.supplier, cat.nation, cat.lineitem)


def _q_order_priority_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join surface: orders with no deeply-discounted
    lineitem, by priority (complement of order_priority)."""
    cat = Catalog(spark, sf_dir)
    return relational.order_priority_clean_counts(cat.orders, cat.lineitem)


def _q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingestion (dedup.incremental_minhash_dedup):
    batch = docs with doc_id % 3 == 0 probed against the MinHash
    SIGNATURE store of the rest of the corpus — signature-estimate
    verification (integer equal-component count), the shape a 100 TB
    corpus actually persists."""
    docs = Catalog(spark, sf_dir).documents
    seen = dedup.minhash_signatures(
        dedup.shingles(docs.filter(F.col("doc_id") % 3 != 0), 5), 16
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    return dedup.incremental_minhash_dedup(batch, seen, threshold=0.5, ngram=5)


def _q_streaming_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING cross-batch near-dup probe (streaming/queries.
    streaming_minhash_probe): the documents stream (doc_id % 3 == 0)
    probed against the static MinHash signature store of the rest of
    the corpus. Signatures are stateless per-row expressions
    (dedup.rowwise_minhash_signatures — min over the shingle array per
    universal-hash coefficient, bit-identical to the shuffle path), so
    the probe is a stream-static broadcast join with zero streaming
    state except the final per-doc min. Oracle = the batch SQL
    (hash-exact, not rows-only)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    docs = strm.read_table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    # store prep stays on the SHUFFLE path: bit-identical to rowwise
    # (tests/test_dedup.py pins the equality) but measurably faster for
    # bulk signature building (A/B'd 3.0 s vs 5.1 s at sf0.1 — partial
    # aggregation beats 16 per-row array passes); rowwise is the
    # STREAM side's shape, where statelessness is the requirement. In
    # production this side is a parquet read of the persisted store.
    seen = dedup.minhash_signatures(
        dedup.shingles(
            Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 3 != 0), 5
        ),
        16,
    )
    out = strm.streaming_minhash_probe(docs, seen, threshold=0.5, ngram=5)
    name = f"_stream_mh_{next(_STREAM_SEQ)}"
    strm.run_to_memory(out, name, output_mode="complete", state_partitions=8)
    return spark.table(name)


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup (operators/dedup.py): docs with id <
    median play the already-ingested corpus (its fingerprint store);
    the upper half is the NEW batch — survivors are new docs whose
    content was seen neither in the store nor earlier in the batch."""
    docs = Catalog(spark, sf_dir).documents
    half = 250  # sf-proportional split point would need a count; the
    # doc_id space is dense from 0 so a fixed split keeps it a pure
    # column predicate at every sf (sf0.01 has 500 docs; smaller sfs
    # simply have a smaller new-batch side)
    seen = dedup.exact_dedup(docs.filter(F.col("doc_id") < half)).select(
        "fingerprint"
    ).distinct()
    new_batch = docs.filter(F.col("doc_id") >= half)
    out = dedup.incremental_exact_dedup(new_batch, seen)
    return out.select("doc_id", "fingerprint", "lang", "source")


def _q_nation_year_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return relational.nation_year_rollup(cat.customer, cat.orders, cat.nation)


def _wiki_lines(spark: SparkSession, sf_dir: str):
    """Deterministic wiki-format page lines derived from documents:
    every 10th page dangling (no links), link targets span 1.2x the doc
    id range so ~1/6 are red links. Exercises the reference's full
    front-end path: O7/O8 regex parse -> link graph -> PageRank."""
    from pagerank_mapreduce_implementation_spark.functions import wiki  # noqa: F401

    docs = Catalog(spark, sf_dir).documents
    n_docs = docs.count()
    m = n_docs + n_docs // 5

    def link(i: int):
        return F.concat(
            F.lit("[["),
            ((F.col("doc_id") * 7 + i) % m).cast("string"),
            F.lit("]]"),
        )

    body = F.when(F.col("doc_id") % 10 == 0, F.lit("")).otherwise(
        F.concat(link(0), link(1), link(2))
    )
    line = F.concat(
        F.lit("<title>"),
        F.col("doc_id").cast("string"),
        F.lit('</title> <text xml:space="preserve">'),
        body,
        F.lit("</text>"),
    )
    return docs.select(line.alias("line"))


def _q_wiki_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_mapreduce_implementation_spark.functions import wiki

    # persist: the edge branch AND the vertex override both consume the
    # regex parse; unpersisted, the corpus would be parsed twice.
    # pagerank() materializes both eagerly, so the cache can drop at
    # return.
    pages = wiki.parse_pages(_wiki_lines(spark, sf_dir)).persist()
    try:
        edges = graph.edges_from_pages(pages)
        ranks = graph.pagerank(
            edges, n_iters=10, mode="reference", vertices=pages.select("url")
        )
    finally:
        pages.unpersist()
    return (
        ranks.select("url", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("url"))
        .limit(20)
    )


_WIKI_PRELUDE = (
    "m AS (SELECT count(*) + count(*) // 5 AS m FROM documents), "
    "lines AS (SELECT doc_id, '<title>' || CAST(doc_id AS VARCHAR) || "
    "'</title> <text xml:space=\"preserve\">' || "
    "CASE WHEN doc_id % 10 = 0 THEN '' ELSE "
    "'[[' || CAST((doc_id * 7 + 0) % (SELECT m FROM m) AS VARCHAR) || ']]' || "
    "'[[' || CAST((doc_id * 7 + 1) % (SELECT m FROM m) AS VARCHAR) || ']]' || "
    "'[[' || CAST((doc_id * 7 + 2) % (SELECT m FROM m) AS VARCHAR) || ']]' END "
    "|| '</text>' AS line FROM documents), "
    # production-parity parse mirror (functions/wiki.py): LAST title
    # match, ALL text bodies, '[['/']]' stripped from each link
    "parsed AS (SELECT coalesce(list_extract("
    "regexp_extract_all(trim(line, ' '), '<title>(.*?)</title>', 1), -1), '') AS url, "
    "list_transform(flatten(list_transform("
    "regexp_extract_all(trim(line, ' '), '<text(.*?)</text>', 1), "
    r"b -> regexp_extract_all(b, '\[\[(.*?)\]\]', 1))), "
    "x -> replace(replace(x, '[[', ''), ']]', '')) AS outlinks "
    "FROM lines WHERE trim(line, ' ') <> ''), "
    "pg AS (SELECT * FROM parsed WHERE url <> '')"
)


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(Catalog(spark, sf_dir).documents)


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 5-gram shingles: word-1-gram is degenerate on this corpus (40-word
    # vocabulary -> nearly every pair is a real 0.85-jaccard "near-dup"
    # and the verify join goes O(n^2))
    return dedup.minhash_near_dups(
        Catalog(spark, sf_dir).documents, threshold=0.5, ngram=5
    )


#: stop-shingle df cap for the exact-recall pair scorers. This corpus'
#: hottest 5-gram appears in 4 docs (profiled at sf0.1), so 64 filters
#: nothing here — the cap is the 100 TB safety rail (candidate volume
#: per shingle bounded by C(64,2) instead of C(corpus,2) on boilerplate
#: shingles), exercised adversarially in tests/test_dedup.py.
NGRAM_MAX_SHINGLE_DF = 64


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        Catalog(spark, sf_dir).documents,
        0.2,
        ngram=5,
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    )


def _q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall Jaccard pairs via PREFIX FILTERING
    (dedup.ngram_jaccard_prefix_pairs): same answer as the naive
    shingle self-join — the oracle IS the naive SQL — but candidates
    come only from each doc's rarest-shingle prefix, the
    set-similarity-join shape that survives boilerplate shingles
    without changing semantics."""
    return dedup.ngram_jaccard_prefix_pairs(
        Catalog(spark, sf_dir).documents, 0.2, ngram=5
    )


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup (dedup.ngram_containment_pairs): shingle
    containment |A∩B|/min(|A|,|B|) — catches a small doc embedded in a
    big one, which symmetric Jaccard scores near zero."""
    return dedup.ngram_containment_pairs(
        Catalog(spark, sf_dir).documents,
        0.5,
        ngram=5,
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    )


def _q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dups(Catalog(spark, sf_dir).documents, max_hamming=12)


def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (dedup.substring_runs, Lee et al. 2022):
    maximal verbatim token runs >= 12 tokens shared between doc pairs —
    the dedup mode every document-granularity sketch misses (a 50-token
    boilerplate passage inside two otherwise-different docs). 8-gram
    rolling scan -> pair hits in md5 buckets (df-capped at 64, the
    max_shingle_df rail) -> gaps-and-islands merge on the pair+diagonal
    key. All-integer output, so the oracle is bit-exact trivially."""
    return dedup.substring_runs(
        Catalog(spark, sf_dir).documents,
        k=8,
        min_len=12,
        max_gram_df=NGRAM_MAX_SHINGLE_DF,
    )


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (text.bm25_search, k1=1.2 b=0.75): the
    length-normalized saturating score a real retrieval user reaches
    for where `search` reproduces the jar's tf-idf sum. ONE corpus
    tokenize pass + ONE corpus shuffle: query-term tfs pivot into the
    per-doc length aggregation, avgdl + dfs fall out of a 1-row
    broadcast agg of that frame (tests/test_plans.py::
    test_bm25_single_scan_single_corpus_shuffle pins the executed
    shape)."""
    scored = text.bm25_search(Catalog(spark, sf_dir).documents, SEARCH_TERMS)
    return scored.select("doc_id", F.round("score", 6).alias("score"))


def _q_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash near-dup (multimodal.phash_near_dups): a
    deterministic 16x16 PPM per document (multimodal.phash_test_image —
    8x8 grid of 2x2 md5-derived gray cells; doc_id%4 variants of one
    doc_id//4 group invert 4 cells inside ONE band chunk, so group
    variants stay bandable) hashed by the REAL codec path: P6 parse ->
    nearest-neighbor 8x8 resample -> 60-bit average hash (Arrow
    mapInPandas), then the SAME 15-bit-chunk Hamming band join as
    SimHash (dedup.hamming_band_pairs). Every pixel byte is md5 +
    integer arithmetic, so the oracle rebuilds the hash analytically
    (the audio_features move)."""
    import pandas as pd

    # spread across cores BEFORE the Python synth+hash pass (the
    # image_dct_dups r15 precedent, applied r17): the local sf tables
    # are one parquet file under maxPartitionBytes = ONE scan task, so
    # an un-spread mapInPandas pins the whole per-doc codec work to a
    # single core. Round-robin on doc_id rows only; per-doc outputs
    # are partitioning-independent, oracle hash unaffected.
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.phash_test_image(int(d))
                    ),
                }
            )

    blobs = docs.mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    return multimodal.phash_near_dups(blobs, max_hamming=10)


def _q_image_dct_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash at corpus shape (multimodal.ppm_dcthash
    injected into phash_near_dups — round-8 verdict item 5): each doc
    pair (2g, 2g+1) is one md5-derived base image and its +40
    uniform-brightness shift (multimodal.dct_test_image; cell range
    [0,199] so the shift never clips). A uniform shift lands entirely
    in the excluded DC coefficient, so the DCT hash of the pair is
    IDENTICAL — at max_hamming=0 the result is exactly the (2g, 2g+1,
    0) pair set, which the oracle predicts without any cos() math (the
    falsifiable brightness-invariance claim; a single flipped bit
    breaks the hash gate)."""
    import pandas as pd

    # spread across cores BEFORE the Python synth+hash pass (the
    # image_dct_dups r15 precedent, applied r17): the local sf tables
    # are one parquet file under maxPartitionBytes = ONE scan task, so
    # an un-spread mapInPandas pins the whole per-doc codec work to a
    # single core. Round-robin on doc_id rows only; per-doc outputs
    # are partitioning-independent, oracle hash unaffected.
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.dct_test_image(int(d))
                    ),
                }
            )

    blobs = docs.mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    return multimodal.phash_near_dups(
        blobs, max_hamming=0, hasher=multimodal.ppm_dcthash
    )


def _q_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (multimodal.audio_near_dups): a
    deterministic WAV per document (multimodal.wav_test_clip — groups
    of 4 docs share one integer signal played at gains 1..4), hashed by
    the REAL wav codec path into the 60-bit energy-delta fingerprint,
    then the shared 15-bit-chunk Hamming band join. Gain variants
    fingerprint identically (energies scale uniformly, delta signs
    invariant — Haitsma-Kalker robustness at corpus shape); the oracle
    regenerates every integer sample/energy/bit analytically and
    mirrors the banding."""
    import pandas as pd

    # spread across cores BEFORE the Python synth+hash pass (the
    # image_dct_dups r15 precedent, applied r17): the local sf tables
    # are one parquet file under maxPartitionBytes = ONE scan task, so
    # an un-spread mapInPandas pins the whole per-doc codec work to a
    # single core. Round-robin on doc_id rows only; per-doc outputs
    # are partitioning-independent, oracle hash unaffected.
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.wav_encode(
                            multimodal.wav_test_clip(int(d)), 8000
                        )
                    ),
                }
            )

    blobs = docs.mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    return multimodal.audio_near_dups(blobs, max_hamming=8)


def _q_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs by shared perceptual frame hashes
    (multimodal.video_near_dups): a 3-frame packed clip per document
    with frame ids doc_id+k, so consecutive docs overlap in 2 frames —
    demuxed by the real container demuxer, per-frame average hash, then
    the distinct/self-join/pair-count plan (physically ngram_jaccard's
    shape). Oracle regenerates every frame hash from the
    phash_test_image md5 cell formula."""
    import pandas as pd

    # spread across cores BEFORE the Python synth+hash pass (the
    # image_dct_dups r15 precedent, applied r17): the local sf tables
    # are one parquet file under maxPartitionBytes = ONE scan task, so
    # an un-spread mapInPandas pins the whole per-doc codec work to a
    # single core. Round-robin on doc_id rows only; per-doc outputs
    # are partitioning-independent, oracle hash unaffected.
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.frames_pack(
                            [
                                multimodal.phash_test_image(int(d) + k)
                                for k in range(3)
                            ]
                        )
                    ),
                }
            )

    blobs = docs.mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    return multimodal.video_near_dups(blobs, min_shared=2)


def _q_video_shared_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous shared-frame RUNS between clip pairs
    (multimodal.video_shared_runs — the temporal substring_runs, new
    round 9): same synthetic 3-frame clips as video_near_dups, but
    matching maximal IN-ORDER runs — consecutive docs share the
    contiguous 2-frame run (positions 1,2 x 0,1), which shared-COUNT
    matching cannot distinguish from scattered reuse. Oracle = the
    frame-hash formula + the substring_runs gaps-and-islands SQL."""
    import pandas as pd

    # spread across cores BEFORE the Python synth+hash pass (the
    # image_dct_dups r15 precedent, applied r17): the local sf tables
    # are one parquet file under maxPartitionBytes = ONE scan task, so
    # an un-spread mapInPandas pins the whole per-doc codec work to a
    # single core. Round-robin on doc_id rows only; per-doc outputs
    # are partitioning-independent, oracle hash unaffected.
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.frames_pack(
                            [
                                multimodal.phash_test_image(int(d) + k)
                                for k in range(3)
                            ]
                        )
                    ),
                }
            )

    blobs = docs.mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    return multimodal.video_shared_runs(blobs, min_run=2)


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rule battery (textstats.gopher_rules,
    Rae et al. 2021 App. A — the published filter set most large text
    pipelines start from): per-doc metrics + the keep verdict, one
    zero-shuffle pass of pure column expressions. Ratios are rounded 6
    BEFORE comparison on both engines, so boundary verdicts hash
    exactly; keep is cast to int (0/1) to keep the hash gate off
    boolean formatting."""
    out = textstats.gopher_rules(Catalog(spark, sf_dir).documents)
    return out.withColumn("keep", F.col("keep").cast("int"))


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-line removal, keep-first (dedup.line_dedup
    — the CCNet/MassiveText boilerplate pass, Wenzek et al. 2020).
    The flat synthetic docs carry no newlines, so the query stages a
    lined corpus first (10 tokens per line, identical chunking in the
    oracle); near-dup docs share aligned 10-token lines, so real drops
    happen (163 lines at sf0.001). Rebuilt text sits behind md5 so the
    byte-exact rebuild is what the hash gate certifies."""
    toks = F.split(F.col("text"), " ")
    staged = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(toks) / F.lit(10)).cast("int") - F.lit(1),
                ),
                lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = dedup.line_dedup(staged)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_dropped_lines"
    )


def _q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (textstats.c4_rules, Raffel et al. 2020
    §2.2 — the line-level half of the published-filter canon). The
    flat synthetic docs carry no newlines or punctuation, so the query
    stages a lined corpus first (10 tokens per line, '.' appended to
    two of every three lines — identical staging in the oracle): the
    terminal-punct and min-words line rules then bite line-by-line and
    the >=5-sentence page verdict splits the corpus both ways. Full
    clean_text sits behind the hash gate."""
    toks = F.split(F.col("text"), " ")
    lines = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil(F.size(toks) / F.lit(10)).cast("int") - F.lit(1),
        ),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            F.when(i % 3 < 2, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    staged = Catalog(spark, sf_dir).documents.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return textstats.c4_rules(staged)


def _q_hits_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS (graph.hits) over the same lineitem-derived edge
    set as the pagerank family: top-20 authorities after 10 full
    iterations, hub+authority rounded 6 (ordering on the ROUNDED score
    with the url tiebreak — deterministic cross-engine, the
    pagerank_top20 convention). At registered sizes the vertex set is
    under the 500k-row broadcast gate, so each half-step joins ONE
    cached edge copy against the broadcast score vector (the src/dst-
    partitioned edge copies are the past-threshold path); the L2 norm
    is a ``.first()`` over each checkpointed hub vector — 2 Spark jobs
    per checkpoint (every second iteration and the last)."""
    out = graph.hits(_edges(spark, sf_dir), n_iters=10)
    return (
        out.select(
            "url",
            F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
        .orderBy(F.desc("authority"), F.asc("url"))
        .limit(20)
    )


def _q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION battery (textstats.gopher_repetition, Rae et
    al. 2021 Table A1 — dup-line fractions + top/dup n-gram character
    mass, the within-doc half of the published filter set). Staged
    over 10-token lines (the line_dedup staging — near-dup docs share
    aligned lines AND long token runs, so both the line and the n-gram
    rules bite; identical staging in the oracle). The oracle is
    deliberately RELATIONAL (unnest+GROUP BY+argmax+position joins)
    where the operator is per-row folds — two independent formulations
    under one hash gate.

    The battery is zero-shuffle and CPU-bound per row, so parallelism
    equals the SCAN's split count — at corpus scale that's thousands
    of parquet splits, but the local sf tables are one file under
    maxPartitionBytes = ONE task pinning a single core (measured 8.5 s
    -> 0.8 s at sf0.1 from this spread alone). The explicit spread is
    a row-count-preserving round-robin; per-doc outputs are
    partitioning-independent, so the oracle hash is unaffected."""
    toks = F.split(F.col("text"), " ")
    staged = Catalog(spark, sf_dir).documents.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(toks) / F.lit(10)).cast("int") - F.lit(1),
                ),
                lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return textstats.gopher_repetition(staged)


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup.semdedup, Abbas et al. 2023): k-means-cluster-
    bounded semantic dedup over the embeddings table with the paper's
    keep rule (the pair member closer to its centroid drops — cluster-
    edge diversity survives). Lloyd centroids in bit-deterministic
    exact_mean mode; every cosine is a double-fold IEEE-exact on both
    engines, so the survivor set is an equality, not an approximation.
    Threshold 0.4 sits 1.3e-4 from the nearest pair cosine at sf0.01 —
    no boundary jitter."""
    cat = Catalog(spark, sf_dir)
    return dedup.semdedup(
        cat.documents.select("doc_id", "lang", "source", "n_chars"),
        cat.embeddings,
        n_cells=8,
        threshold=0.4,
        n_iters=2,
        keep_rule="centroid_far",
    )


def _q_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step substring_dedup reports for (dedup.
    strip_substring_runs, Lee et al. 2022): shared >=12-token runs cut
    out of the higher-id doc of each pair, untouched docs passing
    through byte-identical, stripped docs rebuilt by single-space
    token join (the documented tokenized-rebuild convention). Full
    rebuilt text sits behind the hash gate."""
    out = dedup.strip_substring_runs(
        Catalog(spark, sf_dir).documents,
        k=8,
        min_len=12,
        max_gram_df=NGRAM_MAX_SHINGLE_DF,
    )
    return out.select("doc_id", "text", "n_stripped")


def _q_streaming_phash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING image-dedup probe (streaming.streaming_phash_probe):
    the documents stream (doc_id % 3 == 0, synthesized to PPM blobs
    per micro-batch) probed against the static perceptual-hash store
    of the rest of the corpus. Hashing is a stateless Arrow pass, the
    probe a stream-static broadcast join against the store's chunk
    index; the per-doc (min store id, min hamming) agg is the only
    state. Oracle = the batch composition over the same md5 cell
    formula."""
    import pandas as pd

    from pagerank_mapreduce_implementation_spark import streaming as strm

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.phash_test_image(int(d))
                    ),
                }
            )

    stream_blobs = (
        strm.read_table_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    )
    store_blobs = (
        Catalog(spark, sf_dir)
        .documents.filter(F.col("doc_id") % 3 != 0)
        .select("doc_id")
        # spread the store-side Python synth+hash (one-file scan = one
        # task otherwise; the image_dct_dups precedent)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    )
    seen = multimodal.phash_images(store_blobs)
    out = strm.streaming_phash_probe(stream_blobs, seen)
    name = f"_stream_ph_{next(_STREAM_SEQ)}"
    strm.run_to_memory(out, name, output_mode="complete", state_partitions=8)
    return spark.table(name)


def _q_orc_pricing_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan/sink round-trip under the driver gate (sources.catalog
    write_orc/read_orc): project lineitem's pricing columns, write them
    as ORC partitioned by l_returnflag (hive-style dirs), read the ORC
    back through Spark's vectorized reader, and run pricing_summary
    over the ORC scan — byte-faithful round-trip means the oracle is
    pricing_summary's SQL verbatim. Eagerly checkpointed so the temp
    dir can be deleted before the driver collects."""
    import shutil
    import tempfile

    from pagerank_mapreduce_implementation_spark.sources.catalog import (
        read_orc,
        write_orc,
    )

    li = Catalog(spark, sf_dir).lineitem.select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    )
    d = tempfile.mkdtemp(prefix="spark_graft_orc_")
    try:
        write_orc(li, d, partition_by=["l_returnflag"])
        back = read_orc(spark, d)
        return relational.pricing_summary(back).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector INT8 quantization (similarity.quantize_embeddings):
    the 4x storage-shrink pass before ANN serving. Zero-shuffle per-row
    array math; both engines round half-away-from-zero, so the full
    quantized vector (comma-joined) sits behind the hash gate."""
    return similarity.quantize_embeddings(
        Catalog(spark, sf_dir).embeddings, as_string=True
    )


def _q_quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING over the int8 store: brute-force cosine top-k on the
    quantized vectors (similarity.quantize_embeddings -> cosine_topk).
    Cosine is scale-invariant, so the per-vector dequant multiply
    cancels and serving ranks the raw int8 arrays in double — the whole
    path (quantize + score + top-k) sits behind one hash gate, proving
    the quantized store is servable without ever materializing float32
    reconstructions."""
    qd = similarity.quantize_embeddings(Catalog(spark, sf_dir).embeddings)
    recon = qd.select(
        "vec_id",
        F.transform("qvec", lambda x: x.cast("double")).alias("embedding"),
    )
    return similarity.cosine_topk(recon, 0, 10)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(Catalog(spark, sf_dir).embeddings, 0, 10)


def _q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banded OR-of-ANDs: 2 bands x 8 planes (256 buckets per band,
    # candidates = equal in ANY band). Band count trades recall
    # (OR across bands) against candidate volume; planes-per-band sets
    # bucket granularity. 2x8 keeps buckets fine enough that the exact
    # verify stays ~bucket-size-linear (A/B at sf0.1: 2x4's 16 coarse
    # buckets produced ~1.5M candidates and 24s of exact scoring; 2x8
    # is back at round-2 cost with ~2x the single-band recall).
    return similarity.cosine_pairs_lsh(
        Catalog(spark, sf_dir).embeddings, 0.25, num_planes=16, bands=2
    )


def _q_ivf_topk_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF path end-to-end under the hash gate: 2 Lloyd
    refinement iterations (exact_mean — bit-deterministic id-ordered
    member folds, so the unrolled SQL oracle matches exactly) feeding
    ivf_topk's probe/scan. Complements ivf_topk (first-n seed stand-in)
    by gating the centroid REFINEMENT math itself, which round 4 left
    unchecked beyond plan/property tests."""
    emb = Catalog(spark, sf_dir).embeddings
    cents = similarity.lloyd_centroids(
        emb, n_cells=8, n_iters=2, exact_mean=True
    )
    return similarity.ivf_topk(
        emb, 0, k=10, n_cells=8, n_probe=3, centroids=cents
    )


def _q_temperature_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling budgets (sampling.temperature_mix(
    return_alloc=True), tau=2 — the mT5/XLM-R mixing baseline UniMax
    is measured against): B_s = N * sqrt(T_s) / sum sqrt(T_t). tau=2
    is pinned because sqrt is correctly rounded in every IEEE engine
    where libm pow is not — the oracle replays the identical weight
    fold in ascending source order."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        temperature_mix,
    )

    return temperature_mix(
        Catalog(spark, sf_dir).documents,
        total_budget=9000.0,
        return_alloc=True,
    )


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture SELECTION (sampling.temperature_mix,
    tau=2): the sqrt-flattened budgets drive the shared 52-bit md5
    coin. Scan + broadcast-join + filter, corpus never shuffles."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        temperature_mix,
    )

    return temperature_mix(
        Catalog(spark, sf_dir).documents, total_budget=9000.0
    ).select("doc_id", "source", "n_chars")


def _q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC end-to-end (similarity.ivf_pq_topk, the FAISS IVFx,PQy
    serving shape): first-8 IVF cells prune the scan to 3 probed
    cells, PQ codes + a literal distance table score the survivors —
    at 100 TB the scan touches 3/8 of a cell-partitioned corpus and
    reads 4 BYTES per candidate. Oracle composes the IVF assignment
    SQL with the PQ retrain chain."""
    emb = Catalog(spark, sf_dir).embeddings
    books = similarity.pq_train(emb, m=4, k=8, n_iters=2)
    return similarity.ivf_pq_topk(emb, 0, books)


def _q_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget waterfall (sampling.unimax_mix(return_alloc=True),
    Chung et al. 2023): sources ascending by size each take
    min(0.35 epochs, fair share of the remaining 9000-token budget) —
    at this corpus both branches bind (small sources epoch-capped,
    large fair-share-bound). Driver-side IEEE doubles; the oracle's
    recursive CTE replays the identical op sequence to bit-equal
    budgets."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import unimax_mix

    return unimax_mix(
        Catalog(spark, sf_dir).documents,
        total_budget=9000.0,
        epoch_cap=0.35,
        return_alloc=True,
    )


def _q_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture SELECTION (sampling.unimax_mix): the epoch-capped
    budgets drive the shared 52-bit md5 coin — doc survives iff
    u(doc)*T_s < b_s, identical row set in the oracle. Scan +
    broadcast-join + filter; the corpus never shuffles."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import unimax_mix

    return unimax_mix(
        Catalog(spark, sf_dir).documents, total_budget=9000.0, epoch_cap=0.35
    ).select("doc_id", "source", "n_chars")


def _q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook training + encoding (similarity.pq_train/pq_encode,
    Jegou et al. 2011): 4 subspaces x 8 codewords over the 64-dim
    embeddings, 2 bit-deterministic Lloyd iterations (id-ordered
    exact folds), every vector reduced to 4 codeword ids — the
    m-bytes-per-vector store PQ serving scans instead of raw floats
    (16x smaller than float32 here, vs int8's 4x). The oracle RETRAINS
    the codebooks in SQL and must land on identical codes."""
    emb = Catalog(spark, sf_dir).embeddings
    books = similarity.pq_train(emb, m=4, k=8, n_iters=2)
    return similarity.pq_encode(emb, books)


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (similarity.pq_topk): query vector
    0 served from codes alone through a literal m x k distance table —
    the IVF-PQ serving scan. Zero shuffle + TakeOrderedAndProject;
    scoring reads 4 bytes per candidate at 100 TB, never the floats."""
    emb = Catalog(spark, sf_dir).embeddings
    books = similarity.pq_train(emb, m=4, k=8, n_iters=2)
    return similarity.pq_topk(emb, 0, books, k=10)


def _q_cross_corpus_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus embedding matches (similarity.cosine_matches_ab):
    the 'train' split (vec_id % 10 != 0) against the 'eval' split
    (vec_id % 10 == 0) — embedding-space decontamination candidates,
    LSH-bucketed on both sides (never |A|x|B|)."""
    emb = Catalog(spark, sf_dir).embeddings
    train = emb.filter(F.col("vec_id") % 10 != 0)
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    return similarity.cosine_matches_ab(train, ev, threshold=0.25)


def _q_ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving (similarity.ivf_topk_batch): top-10 neighbors
    for 5 stored query vectors in ONE scan of the cell assignments —
    per-query probe selection and per-query top-k are row_number
    windows over broadcast-small tables."""
    return similarity.ivf_topk_batch(
        Catalog(spark, sf_dir).embeddings,
        query_vec_ids=[0, 7, 21, 42, 99],
        k=10,
        n_cells=16,
        n_probe=4,
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(
        Catalog(spark, sf_dir).embeddings, 0, k=10, n_cells=16, n_probe=4
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(Catalog(spark, sf_dir).documents)


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(Catalog(spark, sf_dir).documents)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(Catalog(spark, sf_dir).documents)


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(Catalog(spark, sf_dir).documents)


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination audit (operators/contamination.py):
    every 20th doc plays the eval/benchmark set; the rest is the
    training corpus, flagged by 5-gram overlap ratio. The bench shingle
    set is small -> AQE broadcasts it; the corpus side never shuffles
    its shingles."""
    from pagerank_mapreduce_implementation_spark.operators.contamination import (
        contamination_check,
    )

    docs = Catalog(spark, sf_dir).documents
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination_check(train, bench, ngram=5, threshold=0.01)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc 2-gram repetition ratio (textstats.repetition_ratio)
    — the Gopher/C4-style boilerplate/spam signal; narrow zero-shuffle
    array math."""
    return textstats.repetition_ratio(Catalog(spark, sf_dir).documents, ngram=2)


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus observability rollup — the report a pipeline
    prints after clean_corpus: doc/token/byte mass, mean quality, and
    each source's token share. JOIN-FREE by construction: quality is a
    narrow projection of the same row, so quality_scores carries
    source + byte length through its single pass (keep_cols) instead
    of the corpus-vs-corpus doc_id join an aggregate-then-join shape
    would pay at 100 TB. One corpus aggregation + a broadcast of the
    sources-sized totals; the quality mean rides the DECIMAL(18,6)
    cast so the float sum is order-independent (the pricing_summary
    convention)."""
    docs = Catalog(spark, sf_dir).documents
    staged = textstats.quality_scores(
        docs,
        keep_cols=(
            "source",
            F.octet_length("text").cast("long").alias("__nb"),
        ),
        with_tokens=True,
        score_only=True,
    )
    per = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("__nb").alias("n_bytes"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )
    total = per.agg(F.sum("n_tokens").alias("__T"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_bytes",
            "avg_quality",
            F.round(
                F.col("n_tokens").cast("double") / F.col("__T").cast("double"), 6
            ).alias("token_share"),
        )
    )


def _q_top_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-n-gram coverage (textstats.top_ngram_stats): the Gopher rule
    repetition_ratio misses — how much ONE phrase dominates a doc.
    Per-doc top-1 via a WindowGroupLimit-pruned row_number; the
    lexicographic tiebreak makes the winner deterministic, so the full
    row (gram included) sits behind the hash gate."""
    return textstats.top_ngram_stats(Catalog(spark, sf_dir).documents)


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (operators/redaction.py) over deterministic
    synthetic contact cards built from the customer table (the corpus
    itself is PII-free, so the query manufactures the thing it
    scrubs — same move as word_count_boundary's separator rewrite):
    every customer gets an email unless custkey%3==0, a phone unless
    %4==0, a URL unless %5==0. Output = per-doc counts + redacted
    text; narrow zero-shuffle scrub at scan speed."""
    from pagerank_mapreduce_implementation_spark.operators.redaction import redact_pii

    cust = Catalog(spark, sf_dir).customer
    key = F.col("c_custkey")
    email = F.when(
        key % 3 != 0,
        F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com ")),
    ).otherwise(F.lit(""))
    phone = F.when(
        key % 4 != 0,
        F.concat(
            F.lit("555-"),
            F.lpad((key % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((key % 10000).cast("string"), 4, "0"),
            F.lit(" "),
        ),
    ).otherwise(F.lit(""))
    url = F.when(
        key % 5 != 0,
        F.concat(F.lit("https://ex.com/c/"), key.cast("string"), F.lit(" ")),
    ).otherwise(F.lit(""))
    cards = cust.select(
        key.alias("doc_id"),
        F.concat(
            F.lit("contact "), F.col("c_name"), F.lit(" "), email, phone, url, F.lit("end")
        ).alias("text"),
    )
    return redact_pii(cards)


def _q_hash_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/sampling.py):
    md5-bucket the doc id into [0,100) -> 90/5/5 ranges. Stable under
    re-partitioning/re-ordering/appends — the property df.sample lacks."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import hash_split

    docs = Catalog(spark, sf_dir).documents
    return hash_split(docs, "doc_id").select("doc_id", "bucket", "split")


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling (operators/sampling.py):
    keep docs with probability proportional to byte length
    (p = min(1, bytes/600) — ~50% expected at this corpus's ~300-byte
    mean). Hash-derived uniform, IEEE-exact ops only: the oracle
    selects the identical row set."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import weighted_sample

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", F.octet_length("text").alias("n_bytes")
    )
    return weighted_sample(docs, "n_bytes", scale=600.0, key_col="doc_id")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source importance sampling (sampling.stratified_weighted_sample):
    within each source, keep docs with p = 0.7 * bytes / max_bytes(source)
    — longer docs survive preferentially, every stratum keeps its own
    scale. Max-normalized so the oracle's keep test is bit-identical."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        stratified_weighted_sample,
    )

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "source", F.octet_length("text").alias("n_bytes")
    )
    return stratified_weighted_sample(
        docs, "n_bytes", "source", rate=0.7, key_col="doc_id"
    ).select("doc_id", "source", "n_bytes")


def _q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quota (operators/sampling.py): keep the top
    50 docs per source by quality score — the curation quota pass.
    WindowGroupLimit prunes per-partition before the window shuffle;
    the quality score rides keep_cols through one narrow pass instead
    of a corpus-vs-corpus doc_id join-back (round-6 join audit)."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import quota_sample

    staged = textstats.quality_scores(
        Catalog(spark, sf_dir).documents, keep_cols=("source",), score_only=True
    ).select("doc_id", "source", "quality")
    return quota_sample(
        staged, group_col="source", order_col="quality", k=50, key_col="doc_id"
    ).select("doc_id", "source", "quality", "rn")


def _q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup (streaming/queries.py): distinct
    content fingerprints of the documents stream via dropDuplicates
    state, append mode — batch/stream fingerprint parity with
    exact_dedup."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    docs = strm.read_table_stream(spark, sf_dir, "documents")
    deduped = strm.streaming_exact_dedup(docs)
    name = f"_stream_dedup_{next(_STREAM_SEQ)}"
    strm.run_to_memory(deduped, name, output_mode="append", state_partitions=8)
    return spark.table(name)


def _q_streaming_approx_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL++ distinct users per day (streaming/queries.py):
    mergeable sketch registers as bounded per-group state. Audited the
    same way as the batch approx_daily_uniques twin — the raw estimate
    is implementation-defined, so the compared columns are the exact
    count plus the 3-sigma in-bound flag (and since both twins run the
    same HLL over the same rows, they share one oracle)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    rsd = 0.05
    ev = strm.read_events_stream(spark, sf_dir)
    agg = strm.streaming_approx_uniques(ev, rsd=rsd)
    name = f"_stream_hll_{next(_STREAM_SEQ)}"
    strm.run_to_memory(agg, name, output_mode="complete", state_partitions=8)
    approx = spark.table(name)
    exact = (
        Catalog(spark, sf_dir)
        .events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.countDistinct("user_id").alias("exact_uniques"))
    )
    in_bound = (
        F.abs(F.col("approx_uniques") - F.col("exact_uniques"))
        <= F.lit(3 * rsd) * F.col("exact_uniques")
    ).cast("int")
    return approx.join(exact, "d").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "exact_uniques",
        in_bound.alias("est_in_bound"),
    )


def _q_streaming_bounded_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup (dropDuplicatesWithinWatermark,
    streaming/queries.py): first-seen user_ids with state evicted past
    the horizon. The 30-day horizon exceeds the test events' span, so
    nothing expires and the output is exactly DISTINCT user_id — a full
    SQL oracle for the bounded-state API."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    deduped = strm.streaming_bounded_dedup(ev)
    name = f"_stream_bdedup_{next(_STREAM_SEQ)}"
    strm.run_to_memory(deduped, name, output_mode="append", state_partitions=8)
    return spark.table(name)


def _q_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.blob_metadata(
        multimodal.text_as_blob(Catalog(spark, sf_dir).documents)
    )


def _q_top3_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        Catalog(spark, sf_dir)
        .customer.select(
            "c_nationkey", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            relational.dsum(F.col("value")).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum"
        )
    )


_SESSIONS_SQL = (
    "WITH d AS (SELECT user_id, ts, value, "
    "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE "
    "THEN 1 ELSE 0 END AS new_sess FROM events), "
    "s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING) AS sess FROM d) "
    # TIMESTAMP_NS casts: DuckDB's TIMESTAMP_NS + INTERVAL yields micro
    # TIMESTAMP (pandas datetime64[us]) while Spark hands back ns —
    # equal instants, different raw values under the driver's hash
    "SELECT user_id, CAST(min(ts) AS TIMESTAMP_NS) AS session_start, "
    "CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP_NS) AS session_end, "
    "count(*) AS n_events, "
    "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_sum "
    "FROM s GROUP BY user_id, sess"
)


def _q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_mapreduce_implementation_spark.operators import sessions

    return sessions.user_sessions(Catalog(spark, sf_dir).events)


def _q_event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (functions/json_fields.py): pull the
    ``k`` field out of the props JSON string and aggregate per event
    type — extract-early-then-prune, the 100 TB JSON pattern."""
    from pagerank_mapreduce_implementation_spark.functions.json_fields import json_field

    ev = Catalog(spark, sf_dir).events
    k = json_field(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def _q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type
    (operators/sketches.py) — DuckDB quantile_cont has identical
    interpolation semantics."""
    from pagerank_mapreduce_implementation_spark.operators import sketches

    return sketches.value_percentiles(
        Catalog(spark, sf_dir).events, "event_type", "value"
    )


def _q_approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles per event type
    (operators/sketches.py), audited against the exact distribution IN
    the query — the same pattern as approx_daily_uniques: the raw GK
    output is implementation-defined (any element within the rank
    bound is legal), so the compared columns are the exact percentiles
    plus an ``est_in_bound`` flag. The bound: a GK answer for p with
    accuracy a is an element whose rank is within n/a of p*n, so its
    VALUE must lie within the exact interpolated quantiles at
    p ± 2/a (the extra 1/a over the sketch's own 1/a rank bound pads
    the interpolation convention's ±1-rank slack: the pad covers it
    whenever pad·n = 0.02·n ≥ n/a + 2, i.e. n ≥ 200 at a=100 — groups
    here are thousands of rows). The oracle asserts the flag is 1 per
    group."""
    from pagerank_mapreduce_implementation_spark.operators import sketches

    accuracy = 100
    pad = 2.0 / accuracy
    ev = Catalog(spark, sf_dir).events
    approx = sketches.approx_value_percentiles(
        ev, "event_type", "value", percentiles=(0.5, 0.9), accuracy=accuracy
    )
    lo = lambda p: F.percentile(F.col("value"), F.lit(max(0.0, p - pad)))  # noqa: E731
    hi = lambda p: F.percentile(F.col("value"), F.lit(min(1.0, p + pad)))  # noqa: E731
    exact = ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 6).alias("p90"),
        lo(0.5).alias("_lo50"),
        hi(0.5).alias("_hi50"),
        lo(0.9).alias("_lo90"),
        hi(0.9).alias("_hi90"),
    )
    in_bound = (
        F.col("ap50").between(F.col("_lo50"), F.col("_hi50"))
        & F.col("ap90").between(F.col("_lo90"), F.col("_hi90"))
    ).cast("int")
    return approx.join(exact, "event_type").select(
        "event_type", "p50", "p90", in_bound.alias("est_in_bound")
    )


def _q_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregated sketch rollup (operators/sketches.py): per-day
    DataSketches HLL sketches, then the MONTH total answered by
    UNIONING the 30 daily sketches — never re-scanning events. Audit
    (same pattern as the other sketch queries): per-day and total
    estimates are implementation-defined, so the compared columns are
    the exact counts plus in-bound flags (3σ at lg_k=12 ≈ 4.9%)."""
    from pagerank_mapreduce_implementation_spark.operators import sketches

    err3 = 3 * 1.04 / (2**12) ** 0.5
    ev = Catalog(spark, sf_dir).events
    daily = sketches.hll_daily_sketches(ev, "ts", "user_id").persist()
    try:
        per_day = daily.select(
            "d", F.hll_sketch_estimate("sketch").alias("day_est")
        )
        total = sketches.hll_rollup_estimate(daily)
        exact_day = ev.groupBy(F.to_date("ts").alias("d")).agg(
            F.countDistinct("user_id").alias("exact_uniques")
        )
        exact_total = ev.agg(
            F.countDistinct("user_id").alias("exact_total")
        )
        day_flag = (
            F.abs(F.col("day_est") - F.col("exact_uniques"))
            <= F.lit(err3) * F.col("exact_uniques")
        ).cast("int")
        total_flag = (
            F.abs(F.col("total_estimate") - F.col("exact_total"))
            <= F.lit(err3) * F.col("exact_total")
        ).cast("int")
        out = (
            per_day.join(exact_day, "d")
            .crossJoin(F.broadcast(total))
            .crossJoin(F.broadcast(exact_total))
            .select(
                F.date_format("d", "yyyy-MM-dd").alias("day"),
                "exact_uniques",
                day_flag.alias("day_in_bound"),
                "exact_total",
                total_flag.alias("total_in_bound"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        daily.unpersist()


def _q_approx_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per day (operators/sketches.py),
    audited against the exact count IN the query: the raw estimate is
    implementation-defined (not SQL-reproducible), so the compared
    output carries the exact count plus an ``est_in_bound`` flag —
    |approx - exact| <= 3*rsd*exact, the standard 3-sigma HLL bound.
    The oracle asserts the flag is 1 for every day: a drifting HLL
    implementation turns the row red instead of hiding behind a
    rows-only check. (The tighter per-run bound is property-tested in
    tests/test_extensions.py.)"""
    from pagerank_mapreduce_implementation_spark.operators import sketches

    rsd = 0.05
    ev = Catalog(spark, sf_dir).events
    approx = sketches.approx_uniques(
        ev.select(F.to_date("ts").alias("d"), "user_id"), ["d"], "user_id", rsd=rsd
    )
    exact = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.countDistinct("user_id").alias("exact_uniques")
    )
    in_bound = (
        F.abs(F.col("approx_uniques") - F.col("exact_uniques"))
        <= F.lit(3 * rsd) * F.col("exact_uniques")
    ).cast("int")
    return (
        approx.join(exact, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "exact_uniques",
            in_bound.alias("est_in_bound"),
        )
    )


def _q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG window surface: per customer, number of orders and the
    average gap in days between consecutive orders (customers with a
    single order keep NULL). One window shuffle on custkey; the gap
    aggregation reuses the same partitioning (no second exchange)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = Catalog(spark, sf_dir).orders.select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    )
    return gaps.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("gap_days"), 6).alias("avg_gap_days"),
    )


def _q_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: per-day event counts, one column per event type,
    as a SINGLE conditional aggregation — one shuffle on the day key,
    one scan. (DataFrame ``.pivot()`` with pinned values plans TWO
    aggregations — groupBy(day, type) then pivotfirst — i.e. an extra
    exchange carrying (day, type) rows; at scale the conditional-sum
    form is strictly better and is what the oracle expresses too.)"""
    ev = Catalog(spark, sf_dir).events
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}") for t in types
    ]
    return (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(*aggs)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            *[f"n_{t}" for t in types],
        )
    )


def _q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with pre-aggregated right side (zero-order
    customers kept at 0)."""
    cat = Catalog(spark, sf_dir)
    return relational.customer_order_counts(cat.customer, cat.orders)


def _q_repeat_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: users who purchased AND hit an error."""
    return relational.repeat_error_users(Catalog(spark, sf_dir).events)


def _q_window_shoppers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: (user, day) pairs that viewed but didn't
    purchase that day."""
    return relational.window_shoppers(Catalog(spark, sf_dir).events)


def _q_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.py — engine extension; no as-of
    join exists in the reference, SURVEY.md §2.3): for each purchase
    event, the same user's latest click at-or-before it. The click
    side is pre-reduced to one row per (user_id, ts) so the tie rule
    is explicit; the oracle is DuckDB's NATIVE ASOF LEFT JOIN."""
    from pagerank_mapreduce_implementation_spark.operators.joins import asof_join

    ev = Catalog(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(
            F.max("event_id").alias("click_event_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    joined = asof_join(
        purchases, clicks, on="user_id", right_ts="click_ts", suffix=""
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 2).alias("purchase_value"),
        "click_ts",
        "click_event_id",
        F.round("click_value", 2).alias("click_value"),
    )


def _q_signup_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval/range join (operators/joins.py): per signup
    event, count + value sum of the same user's events in the next
    hour. Equi-join on user_id with the range as a post-predicate —
    never a full time x time range join."""
    from pagerank_mapreduce_implementation_spark.operators.joins import interval_agg_join

    ev = Catalog(spark, sf_dir).events
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    right = ev.select("user_id", "ts", "value")
    return interval_agg_join(
        signups,
        right,
        on="user_id",
        aggs=[
            F.count(F.col("ts_r")).alias("n_follow"),
            F.round(
                F.sum(F.col("value_r").cast("decimal(18,6)")).cast("double"), 2
            ).alias("follow_value"),
        ],
    )


def _q_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent from the reference, SURVEY.md
    §2.3): per-day unique users. Spark plans this as a two-phase
    expand+agg — partial distinct per partition, then final — so the
    shuffle carries (day, user_id) pairs, not raw events."""
    ev = Catalog(spark, sf_dir).events
    # group on the NATIVE date (string day keys measure 2.5x slower at
    # 1M rows: per-row formatting + wider hash keys); format the
    # handful of output rows as yyyy-MM-dd strings only after the agg —
    # strings because pandas maps Spark DATE to python date objects but
    # DuckDB DATE to datetime64: same instant, different raw value
    # under exact comparison
    return (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.countDistinct("user_id").alias("unique_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "unique_users",
            "n_events",
        )
    )


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pass over documents (semantic dedup):
    LSH-bucketed candidate pairs -> cosine >= 0.25 -> drop the
    higher-id member, return survivors."""
    cat = Catalog(spark, sf_dir)
    return dedup.embedding_near_dup_survivors(
        cat.documents, cat.embeddings, threshold=0.25, num_planes=16, bands=2
    ).select("doc_id", "lang", "source", "n_chars")


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (dedup.cdc_chunks, the LBFS/Rabin
    split of Muthitacharoen et al. 2001 at token granularity): cut
    where the 3-token polynomial rolling hash is divisible by 16, doc
    end always a boundary, chunk = md5 of the span. The
    boundary-shift-immune split that makes chunk-level dedup of an
    incremental crawl incremental. Zero shuffles — pure per-doc array
    expressions + one narrow explode; hash strings are integer-exact
    cross-engine."""
    return dedup.cdc_chunks(
        Catalog(spark, sf_dir).documents, window=3, divisor=16
    )


def _q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication profile over the CDC split
    (dedup.cdc_dup_stats): per-doc dup chunk count and dup token mass
    against corpus-wide chunk-hash occurrences — "how much of this doc
    does the corpus already store". Two key-bounded shuffles (chunk
    hash groupBy with map-side partials, then the doc rollup)."""
    return dedup.cdc_dup_stats(Catalog(spark, sf_dir).documents)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: MinHash+LSH pairs -> connected
    components (alternating large-star/small-star, operators/graph.py —
    O(log^2 n) rounds regardless of component diameter, the 100 TB
    posture; label propagation would need diameter rounds on chain-
    shaped dup clusters) -> (vertex, component). The transitive closure
    is what a real dedup pass keys on — keep one doc per component, not
    per pair. Oracle = recursive CTE over the identical pair list."""
    pairs = dedup.minhash_near_dups(
        Catalog(spark, sf_dir).documents, threshold=0.5, ngram=5
    ).select("doc_a", "doc_b")
    return graph.connected_components(pairs, "doc_a", "doc_b", algorithm="star")


_STREAM_SEQ = iter(range(1_000_000))


def _q_streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization twin (session_window + watermark) —
    same gap semantics as the batch user_sessions, full SQL oracle."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    agg = strm.streaming_user_sessions(ev)
    name = f"_stream_sess_{next(_STREAM_SEQ)}"
    strm.run_to_memory(agg, name)
    return spark.table(name)


def _q_streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals. Deterministic over the static input
    (integer-cents accumulation), so it gets a full SQL oracle even
    though the operator itself is a hand-written state machine."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    stats = strm.user_stats_stateful(ev)
    name = f"_stream_ustats_{next(_STREAM_SEQ)}"
    # 8 state partitions — one state store + one Python worker per
    # partition; 32 of each dominates this one-shot run (see
    # run_to_memory's sizing note)
    strm.run_to_memory(stats, name, output_mode="update", state_partitions=8)
    # update mode appends one cumulative row per user per MICRO-BATCH
    # to the memory sink; keep only each user's final state (n_events
    # is a strictly increasing counter, so max selects the last
    # emission — correct for any batch split, not just 1 file = 1
    # batch)
    sink = spark.table(name)
    final = F.max(F.struct("n_events", "value_sum", "n_error")).alias("s")
    return (
        sink.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.value_sum").alias("value_sum"),
            F.col("s.n_error").alias("n_error"),
        )
    )


def _q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (streaming/queries.py):
    purchases x same-user clicks in the preceding hour, append mode.
    Deterministic over the static input -> full SQL oracle."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = strm.streaming_click_attribution(purchases, clicks).select(
        "event_id", "user_id", "ts", "purchase_value", "click_event_id", "click_ts"
    )
    name = f"_stream_attr_{next(_STREAM_SEQ)}"
    # 8 state partitions: a stream-stream join keeps 4 state stores per
    # partition per side — see run_to_memory's sizing note
    strm.run_to_memory(joined, name, output_mode="append", state_partitions=8)
    return spark.table(name)


def _q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming twin of events_hourly (engine extension —
    the reference has no streaming, SURVEY.md §2.3): file-source stream
    -> watermark -> tumbling-window agg -> availableNow to a memory
    sink. Deterministic over the static input, so it gets a full SQL
    oracle, not a rows-only check."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    agg = strm.streaming_windowed_events(ev)
    name = f"_stream_ev_{next(_STREAM_SEQ)}"
    strm.run_to_memory(agg, name)
    return spark.table(name)


def _q_streaming_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming twin (streaming_sliding_events, 2h
    size / 1h slide): every event double-counts into its two
    overlapping windows — the rolling-rate semantics tumbling windows
    can't express. Deterministic over the static input, so it gets a
    full SQL oracle (each event's two window starts regenerated via
    unnest)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    agg = strm.streaming_sliding_events(ev)
    name = f"_stream_slide_{next(_STREAM_SEQ)}"
    strm.run_to_memory(agg, name)
    return spark.table(name)


def _q_streaming_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming word count over the documents table (same tokenize
    expression as the batch word_count — batch/stream parity)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    docs = strm.read_table_stream(spark, sf_dir, "documents")
    wc = strm.streaming_word_count(docs)
    name = f"_stream_wc_{next(_STREAM_SEQ)}"
    strm.run_to_memory(wc, name)
    return spark.table(name)


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of multimodal_chain: a deterministic RIFF PCM16 WAV
    per document (multimodal.wav_test_signal — every int16 sample an
    integer formula on doc_id, so the oracle regenerates them in SQL),
    run through the REAL wav codec: decode_audio(wav_decoder) metadata
    + extract_features(wav_feature_extractor) 2-frame RMS/zero-crossing
    fingerprints, all via Arrow mapInPandas. The extractor's sums are
    explicit sequential folds so the doubles match DuckDB's list_sum
    bit-for-bit before the float32 schema cast (which the oracle
    mirrors with a CAST AS REAL round-trip — the multimodal_chain
    move)."""
    import pandas as pd

    # NO spread here (r17 A/B): wav_test_signal synth is cheap (~0.1
    # ms/doc) and the blobs checkpoint feeds two branches — the
    # round-robin shuffle cost exceeded the parallelism gain
    # (min-of-3: 1.20 s un-spread vs 1.51 s spread).
    docs = Catalog(spark, sf_dir).documents.select("doc_id")

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.wav_encode(
                            multimodal.wav_test_signal(d), 8000
                        )
                    ),
                }
            )

    # blobs feed TWO consumers (metadata + features): cut the lineage
    # so the synth pass runs once, not once per branch
    blobs = docs.mapInPandas(synth, schema=multimodal.BLOB_SCHEMA).localCheckpoint(
        eager=False
    )
    meta = multimodal.decode_audio(blobs, multimodal.wav_decoder)
    feats = multimodal.extract_features(
        blobs, extractor=lambda b: multimodal.wav_feature_extractor(b, 2)
    )
    return meta.join(
        feats.select(
            F.col("vec_id").alias("doc_id"),
            F.round(F.col("embedding")[0].cast("double"), 6).alias("rms_0"),
            F.round(F.col("embedding")[1].cast("double"), 6).alias("zcr_0"),
            F.round(F.col("embedding")[2].cast("double"), 6).alias("rms_1"),
            F.round(F.col("embedding")[3].cast("double"), 6).alias("zcr_1"),
        ),
        "doc_id",
    )


def _q_multimodal_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal pipeline under the driver gate (round-3 verdict
    item 3): synthesize a deterministic P6 PPM per document with JVM
    expressions (solid-color image; dims from doc_id, RGB triplet from
    md5(text) — every byte reproducible in SQL), then run the REAL
    codec chain: decode_image(ppm_decoder) -> resize_image(ppm_resizer,
    8x6) -> extract_features(ppm_feature_extractor), all three through
    their Arrow mapInPandas plumbing.

    Output is scalar-only so DuckDB can hash-compare: dims + n_bytes
    from the decoder, md5 over the HEX of the resized payload (DuckDB's
    md5 is VARCHAR-only; Spark hex == DuckDB hex, uppercase), and the
    first three features (per-channel means). Solid images make the
    oracle analytic: nearest-neighbor resample of a constant image is
    the constant, channel mean == triplet_byte/255 — stored float32,
    which the oracle mirrors with a REAL round-trip cast."""
    docs = Catalog(spark, sf_dir).documents
    w = (F.lit(4) + F.col("doc_id") % 13).cast("int")
    h = (F.lit(4) + F.col("doc_id") % 11).cast("int")
    trip = F.substring(F.md5(F.encode(F.col("text"), "utf-8")), 1, 6)
    header = F.encode(
        F.concat(
            F.lit("P6\n"),
            w.cast("string"),
            F.lit(" "),
            h.cast("string"),
            F.lit("\n255\n"),
        ),
        "utf-8",
    )
    pixels = F.unhex(F.repeat(trip, w * h))
    blobs = docs.select(
        F.col("doc_id"), F.concat(header, pixels).alias("content")
    )
    decoded = multimodal.decode_image(blobs, multimodal.ppm_decoder)
    # resized feeds TWO consumers (md5 + featurize): cut the lineage so
    # the decode+resize Python passes run once, not once per branch
    resized = multimodal.resize_image(blobs, 8, 6, multimodal.ppm_resizer).localCheckpoint(
        eager=False
    )
    feats = multimodal.extract_features(
        resized, extractor=multimodal.ppm_feature_extractor
    )
    res_md5 = resized.select(
        "doc_id", F.md5(F.encode(F.hex("content"), "utf-8")).alias("resized_md5")
    )
    return (
        decoded.join(res_md5, "doc_id")
        .join(
            feats.select(
                F.col("vec_id").alias("doc_id"),
                F.round(F.col("embedding")[0].cast("double"), 6).alias("feat_r"),
                F.round(F.col("embedding")[1].cast("double"), 6).alias("feat_g"),
                F.round(F.col("embedding")[2].cast("double"), 6).alias("feat_b"),
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "width",
            "height",
            "format",
            "n_bytes",
            "resized_md5",
            "feat_r",
            "feat_g",
            "feat_b",
        )
    )


def _q_streaming_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyword search (streaming/queries.py streaming_search):
    the tf-idf index is a BATCH artifact (df and N are corpus-level
    statistics), materialized to parquet and then STREAMED into the
    incremental per-doc score sum — the index-build / serving split a
    production search pipeline uses. Same terms and same rounding as
    the batch ``search`` query, so the two share one oracle."""
    import shutil
    import tempfile

    from pagerank_mapreduce_implementation_spark import streaming as strm

    tfidf = text.tf_idf(Catalog(spark, sf_dir).documents)
    # run-private scratch dir (mkdtemp): a fixed shared path would race
    # concurrent bench/driver processes (one overwriting the index
    # while another's stream reads it) and collide across users of a
    # shared /tmp; removed after the availableNow run drains it into
    # the memory sink
    idx_dir = tempfile.mkdtemp(prefix="spark_graft_tfidf_idx_")
    try:
        tfidf.write.mode("overwrite").parquet(idx_dir)
        stream = spark.readStream.schema(
            spark.read.parquet(idx_dir).schema
        ).parquet(idx_dir)
        scored = strm.streaming_search(stream, SEARCH_TERMS)
        name = f"_stream_search_{next(_STREAM_SEQ)}"
        strm.run_to_memory(scored, name, output_mode="complete", state_partitions=8)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.table(name).select("doc_id", F.round("score", 6).alias("score"))



# --- round-13 registrations: staged cohorts 2+3, streaming twins, and
# --- the program/report gates (r12 verdict items 1/2/4/6)

_EVENT_RULES = {
    "value_nonneg": "value >= 0",
    "user_present": "user_id IS NOT NULL",
    "type_known": "event_type IN ('click', 'view', 'purchase', 'signup', 'error')",
}

_DRIFT_COLS = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
# the one-scan fusion's registered set (r14 verdict item 6): low-
# cardinality columns so the Expand's distinct hash agg stays tiny and
# the certification is genuinely scan-bound; one column whose range
# CHANGES under the slice, one whose range survives
_DRIFT_COLS_SLIM = ["l_quantity", "l_returnflag"]
_SKEW_KEYS = ["l_returnflag", "l_linestatus"]
_ANN_QUERY_IDS = [0, 7, 23]
_TOKEN_BUDGETS = {"src0": 600, "src1": 1200, "src2": 40}
_HEALTH_RULES = {
    "doc_id_present": "doc_id IS NOT NULL",
    "text_nonempty": "length(text) > 0",
    "n_chars_consistent": "n_chars = length(text)",
}

# The FIXED PCA basis behind the registered ``pca_project`` query:
# k=4 centered components + column means over the 64-dim embeddings
# table, fitted ONCE on the sf0.001 snapshot via
# ``embeddings.pca_components(emb, k=4)`` and frozen as plan literals
# (regenerate with scripts/refit_pca_basis.py). This is the operator's
# own documented deployment shape — "project a new corpus snapshot
# onto last week's basis" — and it is what puts the DISTRIBUTED 95% of
# the query under a real DuckDB hash oracle (a plain SQL matmul):
# the d x d driver-side eigh stays numpy-parity-gated in pytest
# (tests/test_staged_ops2.py), which is the only remaining
# non-SQL-expressible step (round-13 verdict item 3).
_PCA_MEANS: list[float] = [
    -0.0029279056195518935, -0.0014273036213126034, 0.0014979841295280495,
    0.0085343054040859, -0.0018568808948039078, -0.0026552443557302467,
    9.698803468927508e-05, -0.009130519425380044, -0.0112253543898114,
    -0.004403606819809284, 0.007711773203656776, -0.009148331143078394,
    -0.00020179740479215979, 0.004817572033498436, 0.004733342973282561,
    -0.002985484350385377, 0.0006181493736803532, -0.0014106097214389593,
    -0.001993843752599787, -0.00509647128454526, -0.006201374008785933,
    -0.0017435143341426739, 0.003858943839906715, -0.011007076737907483,
    -0.002966475720531889, -0.00307489726921267, -0.0007143929645280877,
    -0.0028569339160458185, -0.005044033584978024, -0.0032809512809617446,
    -0.01047341996646719, 0.0003091185424127616, 0.0020676275016739964,
    0.004834419353370322, -0.002872960220949608, 0.004292228904552758,
    0.0009674171103106346, -0.0003975839237682521, -0.009004209891078063,
    0.009727533414821665, -0.003610340904328041, -0.00834003098422545,
    0.0034724357647355646, 0.0028222152299713344, -0.0060982390952995045,
    -0.011640799632034031, 0.0004784632098599104, -0.002169894218837726,
    0.0024223867352993695, 0.0013346195874619298, -0.0004902978780228296,
    -0.0019964799070494336, 0.003326903287321329, 0.007019521241309121,
    0.009966928659574478, 3.70482771540992e-05, 0.00383499199768994,
    0.0024534474063548257, -0.006527335361985024, 0.0021226773075177334,
    -0.0030895655695521783, 0.001494445418164105, -0.004200260663943482,
    0.001212832556164358
]
_PCA_COMPONENTS: list[list[float]] = [
    [
        -0.14882739051573407, -0.05804875773922674, 0.043575316022050004,
        -0.17328343823987313, 0.008857600832435406, 0.23581066680942067,
        0.1697252026917575, 0.1589878632680369, 0.06453897479850693,
        -0.23656218893337663, 0.22575678685742007, 0.047035417830819284,
        0.06205401047815261, 0.11484439283858057, 0.22193282183442598,
        0.06699554328418905, -0.1047452070334624, 0.016620574319200047,
        -0.11588778670575574, 0.12443208270073505, -0.04950907760333619,
        0.04175019792676331, -0.18927528106881938, -0.03908597018077463,
        0.09267295616080609, -0.21561098537340143, 0.04514556938462401,
        0.23588532314127864, 0.05864676299759396, 0.03503843491573069,
        0.013610860565663548, -0.010174548941359884, -0.03778615609605834,
        0.10501566068726712, -0.29464314402842384, 0.01875293544215395,
        -0.0863031592363742, -0.0005068710452801987, 0.023426194723584804,
        0.028956030249151093, 0.08441995765909875, 0.06384654511978022,
        0.11390994042809367, 0.07581307938197115, -0.08088541458480006,
        -0.22179994057017774, -0.0736102669479174, 0.3023259387612407,
        0.0873122458466968, -0.13675005002247992, 0.13525317606982576,
        0.07173288036548417, -0.06103787643475456, 0.021304946839686662,
        -0.02415866830011257, -0.1257765556078401, -0.05015674422615432,
        0.1033128525025966, -0.06174019420692335, 0.014281959706297557,
        0.029863577596452813, 0.00381265173715558, -0.24826032213507704,
        -0.09080482539677724
    ],
    [
        -0.10289597938868889, 0.09562073604712165, 0.26289932310936387,
        -0.10143556934670282, 0.09900330642578963, -0.22467373476432917,
        -0.09060261683526583, -0.057530363743637986, -0.21637176000533778,
        -0.05880087367474436, 0.06424217622278183, 0.06669017855362161,
        0.06754901574727226, -0.00620546441801903, -0.10222256376571016,
        0.04119954724675918, 0.14271672517309392, -0.02598566856642165,
        0.17973523946801342, -0.2273380904677266, 0.2902056754915172,
        0.07750684050901706, -0.20720027711564676, 0.26044735532654356,
        -0.07914072501104058, 0.008759476904308006, -0.006198526380114731,
        -0.013173007881051468, 0.08145781849101588, 0.09266233652035447,
        0.08298431987552829, 0.04138510591104924, 0.16037644182655403,
        0.13781633043305985, 0.008604566541835432, -0.23387671841156593,
        -0.027139993613609602, 0.1030036404930671, 0.027481971992578923,
        -0.030348908099001065, 0.11731556748630002, -0.2625718898450684,
        0.07584316668110168, 0.03522303142063751, 0.07317898555385934,
        -0.1471984418336681, -0.14062183414840895, 0.029035415994433586,
        0.16196109155510763, 0.05422164334768011, 0.05764153624619432,
        0.09361036277531969, -0.02491261255613092, 0.0332238832145403,
        0.16159667313374987, -0.0851503745443258, 0.11597711540046107,
        0.04924187209698352, -0.06528581918277514, -0.09239551110402822,
        -0.02741069820796146, 0.12816852889420205, -0.07778714100488877,
        0.19742129386549473
    ],
    [
        0.1805785498829553, -0.05467754487754062, -0.11284482669265095,
        0.26814690264224783, 0.06754872937158449, 0.07506344331930484,
        -0.006650767153008812, 0.4197418316200748, -0.02628622853684013,
        -0.14198165099861343, -0.02551785570693188, 0.11762226406003959,
        0.03879531410871796, -0.10781907834179343, -0.07647188211090616,
        -0.0262509191833185, 0.18660318034736684, -0.1127823245197393,
        -0.08011444930012167, 0.048292940312893246, -0.16217138531270014,
        0.041611159334725006, -0.060167500386000716, 0.08993707714631345,
        0.027431942789391615, 0.019030227898486837, 0.040942436912768644,
        0.19132669929289328, 0.1936917087452207, -0.13248949054621803,
        0.028524134780840295, 0.0430753439041156, 0.07850270540058352,
        -0.1340271112906664, -0.13992364371618232, 0.006922588587396111,
        0.10289558196328953, 0.1922512171987234, 0.028247008223342605,
        0.08587499760722497, -0.06158734585993106, -0.033975164061325024,
        -0.02519827834876863, -0.05761998789617892, 0.11784173635069448,
        0.12508157854133078, -0.02534006823396956, 0.1961582468457488,
        -0.19097621846207272, 0.0518094851276148, 0.006279869076081315,
        -0.008239484386394692, -0.016423482640631405, 0.11992365949166174,
        0.16127528321627882, 0.10785297250644699, 0.15860508332570944,
        -0.14886271402496876, -0.042717908077806344, -0.20452910820078626,
        0.03267254978248976, 0.16831692199492654, 0.09708161630612877,
        0.21631089970945566
    ],
    [
        -0.05716351958635492, -0.07255751358703419, 0.09826686261446431,
        0.06950557791868023, -0.05279974684205624, 0.14517653923702695,
        -0.08667896280723883, -0.02852486896006927, 0.08940739682405165,
        0.20488456434686259, -0.01375312509123907, 0.09457388381385759,
        -0.10782015518536511, 0.028154538372789854, -0.024807050168708503,
        -0.08708165952433922, -0.05374070377016076, 0.19731052304375965,
        -0.007769824822029276, -0.02763423365781178, -0.032933301697055155,
        -0.21091248753011768, 0.054025169995004604, 0.22328348732889028,
        -0.23005319347428732, 0.05612068583038053, 0.07863554674865807,
        0.17498036864853672, -0.03164932550382628, 0.013996381067864317,
        0.09617843253277338, 0.21312621630863118, 0.029444936857024942,
        0.08285174934843664, -0.09008293208687172, 0.0629185643261652,
        -0.21360955976334492, -0.14243880726168384, 0.25535293148500826,
        -0.10767765710872024, -0.11140062904429693, 0.18514506807872144,
        0.004024406542167725, -0.12065558408672747, -0.07198413342410864,
        0.0005762051680588895, 0.0964355615250493, -0.0610902189980652,
        -0.05491472760142144, 0.03072829013733492, 0.1142672204005826,
        0.2990502739606924, -0.2840229366941677, -0.014906968307220582,
        0.24343276382834605, 0.05738113868836132, -0.014686391087503161,
        0.12944575645927003, -0.1279325319002339, -0.011140226603104271,
        0.11185018403403055, -0.08826870173091217, 0.1136284582456675,
        0.12949499818609303
    ],
]


def _dec_join(col: str) -> F.Column:
    """Array-of-double -> canonical decimal(18,6) CSV string: the
    cross-engine EXACT rendering for vector columns (stringified
    doubles differ between pandas and DuckDB; fixed-point does not)."""
    return F.array_join(
        F.transform(
            F.col(col), lambda x: x.cast("decimal(18,6)").cast("string")
        ),
        ",",
    )


def _q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace canonicalization (textstats.normalize_text):
    NFC + control/zero-width strip + whitespace-run collapse + trim,
    with a changed flag — clean_corpus's opt-in stage 0."""
    return textstats.normalize_text(Catalog(spark, sf_dir).documents)


def _q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus NEAR-duplicate benchmark leakage
    (contamination.fuzzy_contamination): minhash band buckets across a
    train/bench WHERE-split, exact cross-corpus shingle Jaccard verify
    — catches the reworded leakage the exact n-gram audit misses."""
    docs = Catalog(spark, sf_dir).documents
    train = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    from pagerank_mapreduce_implementation_spark.operators import contamination

    return contamination.fuzzy_contamination(
        train, bench, threshold=0.05, ngram=3
    )


def _q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality gauge (similarity.ann_recall_report): per query
    id, IVF top-k vs brute-force cosine top-k recall — the audit that
    keeps the n_probe/n_cells knobs honest."""
    return similarity.ann_recall_report(
        Catalog(spark, sf_dir).embeddings,
        _ANN_QUERY_IDS,
        k=10,
        n_cells=16,
        n_probe=4,
    )


def _q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget epoch fill (sampling.token_budget_mix):
    greedy doc_id-ordered fill until each source's budget exhausts."""
    return sampling.token_budget_mix(
        Catalog(spark, sf_dir).documents, _TOKEN_BUDGETS
    )


def _q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability (dedup.dedup_report): cluster_survivors
    keep/drop doc and token mass per source — what a human reads
    after a dedup pass before trusting the drop."""
    return dedup.dedup_report(
        Catalog(spark, sf_dir).documents,
    )


def _q_trigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 add-k LM surprisal per doc (textstats.trigram_lm_scores)."""
    return textstats.trigram_lm_scores(Catalog(spark, sf_dir).documents)


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust outlier flags (textstats.mad_outliers) over
    the quality_scores output: exact median/MAD, cutoff 3. ``source``
    rides through quality_scores' keep_cols — the single narrow pass
    that feature exists for — instead of a corpus-vs-corpus doc_id
    join back to documents (round-13 verdict: broadcastable at sf0.1,
    corpus x corpus at 100 TB; plan gated join-free in
    tests/test_plans.py)."""
    docs = Catalog(spark, sf_dir).documents
    staged = textstats.quality_scores(
        docs, score_only=True, keep_cols=("source",)
    )
    return textstats.mad_outliers(staged)


def _q_classify_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-taxonomy topical bucketing (textstats.classify_domains,
    DEFAULT_TAXONOMY): per-doc argmax over plan-time-literal keyword
    hit counts with the integer-encoded (hits, name) tiebreak — ZERO
    shuffles, scan-speed at 100 TB. Registered r15 (staged r13;
    parity + hand-built semantics tests in tests/test_staged_ops3.py
    and tests/test_properties.py since)."""
    return textstats.classify_domains(Catalog(spark, sf_dir).documents)


def _q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (textstats.bigram_pmi, min_count=2)."""
    return textstats.bigram_pmi(Catalog(spark, sf_dir).documents, min_count=2)


def _q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit (text.bpe_fertility): BPE-ish pieces
    per whitespace word, per doc."""
    return text.bpe_fertility(Catalog(spark, sf_dir).documents)


def _q_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-window chunker (text.chunk_sentences, window=3
    stride=2): the RAG/context-window chunk shape, sentence-aligned."""
    return text.chunk_sentences(
        Catalog(spark, sf_dir).documents, window=3, stride=2
    )


def _q_truncate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation (embeddings.truncate_embeddings): prefix
    dims + renorm, zero-shuffle per-row math; vector rendered as the
    decimal-exact CSV string for the cross-engine hash."""
    out = emb_ops.truncate_embeddings(
        Catalog(spark, sf_dir).embeddings, dims=16
    )
    return out.select("vec_id", _dec_join("embedding").alias("emb"))


def _q_mean_pool_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (embeddings.mean_pool_embeddings,
    exact=True): bit-deterministic id-ordered mean folds."""
    out = emb_ops.mean_pool_embeddings(
        Catalog(spark, sf_dir).embeddings, exact=True
    )
    return out.select("label", "n", _dec_join("centroid").alias("centroid"))


def _q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d x d gram matrix: one Arrow ``mapInPandas`` pass of
    per-batch numpy partials, shuffle volume = partitions x d^2,
    independent of row count (an exact per-cell fold would explode
    rows x d(d+1)/2 cells into row-count-sized group state at 100x).
    ``round(g, 6)`` absorbs the ~1e-12 cross-partition partial-sum
    noise against the oracle's bit-exact sequential fold; a numpy
    reference in tests/test_staged_ops2.py checks every cell."""
    out = emb_ops.embedding_gram(Catalog(spark, sf_dir).embeddings)
    return out.select("i", "j", F.round("g", 6).alias("g"))


def _q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the FROZEN k=4 basis (``_PCA_COMPONENTS`` /
    ``_PCA_MEANS``, fitted once on sf0.001 — the operator's documented
    fitted-basis-reuse shape): components/means enter the plan as
    literals, so the projection is a zero-shuffle per-row expression
    with a plain SQL matmul oracle (oracles.pca_project_sql). This
    puts the DISTRIBUTED 95% of pca under the driver hash — round-13
    verdict item 3; the d x d driver-side eigh that produces a basis
    stays numpy-parity-gated in pytest (tests/test_staged_ops2.py),
    and the basis literals themselves are provenance-gated against a
    fresh sf0.001 fit. Projections rendered decimal-exact."""
    out = emb_ops.pca_project(
        Catalog(spark, sf_dir).embeddings,
        components=_PCA_COMPONENTS,
        means=_PCA_MEANS,
    )
    return out.select("vec_id", _dec_join("proj").alias("proj"))


def _q_cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF cluster labels (embeddings.cluster_top_terms): top-3
    tokens per embedding cell, shared-word damped."""
    return emb_ops.cluster_top_terms(
        Catalog(spark, sf_dir).documents,
        Catalog(spark, sf_dir).embeddings,
        n_cells=4,
        k=3,
        weighting="ctfidf",
    )


def _q_group_compactness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cohesion (embeddings.group_compactness, exact=True):
    mean member-to-centroid cosine — tight region vs noise."""
    return emb_ops.group_compactness(
        Catalog(spark, sf_dir).embeddings, exact=True
    )


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged curriculum ordering (sampling.curriculum_order): docs
    bucketed by n_chars thresholds, shuffled within stage via the
    training_order distributed rank."""
    return sampling.curriculum_order(
        Catalog(spark, sf_dir).documents, "n_chars", [200.0, 500.0]
    )


def _q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-over-drop schema drift (relational.profile_drift): per
    column, old-vs-new profile rows diffed side by side. Deliberately
    the TWO-frame form, not the one-scan profile_drift_where fusion:
    A/B at sf0.1 measured the fusion 2.1x SLOWER warm (10.3 vs 4.7 s)
    — one 9x-expand serial aggregation loses to two parallel 5x
    expands when the agg, not the scan, dominates; the fused variant
    stays available for genuinely scan-bound (cold columnar) use."""
    # r17: project to the profiled columns and spread across cores
    # before the x5 Expand + exact-distinct partial aggregation — the
    # one-file local scan otherwise runs the whole expand nearly
    # serial in a 3-task stage (profiled: two concurrent 3.8/6.0 s
    # 3-task jobs = the query). Round-robin repartition of only the 4
    # profiled columns; aggregation results are partitioning-
    # independent. A/B min-of-3 warm: 5.45 -> 3.06 s.
    li = (
        Catalog(spark, sf_dir)
        .lineitem.select(*_DRIFT_COLS)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    old = li.filter(F.col("l_orderkey") % 3 != 0)
    return relational.profile_drift(old, li, _DRIFT_COLS)


def _q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key audit (relational.key_skew_report): per key column,
    the top-10 values by mass with share — the pre-join salting read."""
    return relational.key_skew_report(
        Catalog(spark, sf_dir).lineitem, _SKEW_KEYS, top_n=10
    )


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width distribution buckets (relational.value_histogram)
    over documents.n_chars, width 100."""
    return relational.value_histogram(
        Catalog(spark, sf_dir).documents, "n_chars", bucket_width=100
    )


def _q_streaming_lm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LM scorer (streaming.queries.streaming_lm_probe): the
    bigram table is a BATCH artifact broadcast into the stream; result
    == batch bigram_lm_scores, so the two share one oracle (the
    streaming_search gate pattern)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    scored = textstats.bigram_surprisal_table(
        Catalog(spark, sf_dir).documents
    )
    stream = strm.read_table_stream(spark, sf_dir, "documents")
    probe = strm.queries.streaming_lm_probe(stream, scored)
    name = f"_stream_lm_{next(_STREAM_SEQ)}"
    strm.run_to_memory(probe, name, output_mode="complete", state_partitions=8)
    return spark.table(name)


def _q_streaming_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming expectations (streaming.queries.
    streaming_rule_violations): named rule violation counts per event
    hour — validate_table's stream twin."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    out = strm.queries.streaming_rule_violations(ev, _EVENT_RULES)
    name = f"_stream_rules_{next(_STREAM_SEQ)}"
    strm.run_to_memory(out, name, state_partitions=8)
    return spark.table(name)


def _q_streaming_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution buckets (streaming.queries.
    streaming_value_histogram) over events.value, width 25 —
    value_histogram's stream twin."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    out = strm.queries.streaming_value_histogram(ev, 25.0)
    name = f"_stream_vh_{next(_STREAM_SEQ)}"
    strm.run_to_memory(out, name, state_partitions=8)
    return spark.table(name)


def _q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observability PROGRAM driver-gated (programs.corpus_health):
    one pass writing profile/expectations/skew/length-hist parquet
    reports; returns the expectations table read back — the piece a
    pipeline gates on. Oracle recomputes the default documents rules
    in SQL, so the program's rule construction, the validate pass and
    the write/read round-trip all sit under the hash."""
    return programs.corpus_health(
        spark,
        f"{sf_dir}/documents.parquet",
        _scratch_dir("corpus_health"),
    )


def _q_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeled-cluster report PROGRAM driver-gated
    (programs.cluster_report): Lloyd fit ONCE (exact folds), shared by
    compactness and c-TF-IDF labeling; written + read back. The oracle
    recomputes the whole composition off one assignment CTE."""
    return programs.cluster_report(
        spark,
        f"{sf_dir}/documents.parquet",
        f"{sf_dir}/embeddings.parquet",
        _scratch_dir("cluster_report"),
        n_cells=8,
        k_terms=5,
        weighting="ctfidf",
        exact=True,
    )


def _q_shard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest-vs-shards consistency PROGRAM driver-gated
    (programs.shard_audit): rebuild shards fresh, then diff recomputed
    per-shard stats against the manifest. The oracle recomputes the
    manifest in SQL (training_shards_sql) and asserts the all-ok shape
    — so shard write, manifest write, re-read AND the audit join all
    sit under the hash."""
    out = _scratch_dir("shard_audit")
    programs.build_training_shards(
        spark,
        f"{sf_dir}/documents.parquet",
        out,
        budget=256,
        # 16 bins/shard: enough shards for a non-vacuous audit at the
        # correctness SF while bounding the hive partition-dir count
        # the bench pays 3x per pass (4 bins/shard wrote ~680 dirs at
        # sf0.1 — measured 6.4 s, dominated by FS ops, not compute)
        bins_per_shard=16,
        shuffle_seed="torder",
    )
    return programs.shard_audit(spark, out)


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round-trip (sources.catalog.write_json/
    read_json): documents -> JSON lines shards -> explicit-schema read
    -> per-source rollup vs DuckDB over the ORIGINAL parquet — content
    survives the training-data interchange format."""
    from pagerank_mapreduce_implementation_spark.sources.catalog import (
        read_json,
        write_json,
    )

    docs = Catalog(spark, sf_dir).documents
    path = _scratch_dir("jsonl_docs")
    write_json(docs, path)
    back = read_json(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_pagerank_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jar-parity FILE pipeline driver-gated (r12 verdict item 4;
    programs.run_pagerank == PageRank.java:53-327): wiki-format lines
    written to a text file, the program runs count -> parse -> 10
    damped reference iterations -> global sort -> O3 ``url\trank``
    text sink, and the OUTPUT FILE is read back through the O2
    tab-split source and re-parsed. Seed here is 1/n_lines ==
    1/|pages| (every generated line is a page), so the oracle is the
    wiki_pagerank SQL — any drift in the text round-trip (formatting,
    tab handling, double stringification) breaks the hash."""
    base = _scratch_dir("pagerank_files")
    inp, outp = f"{base}/in", f"{base}/out"
    _wiki_lines(spark, sf_dir).withColumnRenamed("line", "value").write.mode(
        "overwrite"
    ).text(inp)
    programs.run_pagerank(spark, inp, outp)
    from pagerank_mapreduce_implementation_spark.sources.catalog import read_kv_text

    kv = read_kv_text(spark, outp)
    return (
        kv.select(
            F.col("key").alias("url"),
            F.round(F.col("value").cast("double"), 6).alias("rank"),
        )
        .orderBy(F.desc("rank"), F.asc("url"))
        .limit(20)
    )


def _q_tfidf_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jar's OTHER file pipeline driver-gated (the pagerank_files
    twin; pagerank.jar!org/myorg/{TermFrequency,TFIDF,Search,Rank}): a
    deterministic doc subset written ONE DOC PER FILE (the jar keys
    docs by input file name — Spark cannot name output files per row,
    so the bounded |docs|/100 subset is written driver-side),
    programs.tfidf_search_rank runs TF -> TF-IDF -> term search ->
    score ranking with the jar-exact boundary tokenizer and writes
    ``doc \\t score`` O3 text, and the OUTPUT FILE is read back
    through the O2 tab-split source — the oracle recomputes the whole
    scoring over the same subset, so any formatting/round-trip drift
    breaks the hash."""
    import shutil

    from pagerank_mapreduce_implementation_spark.sources.catalog import read_kv_text

    base = _scratch_dir("tfidf_files")
    inp, outp = os.path.join(base, "in"), os.path.join(base, "out")
    # rebuild the input dir from scratch: the per-process scratch is
    # REUSED across invocations and a smaller corpus (a different
    # sf_dir) must not inherit stale per-doc files
    shutil.rmtree(inp, ignore_errors=True)
    os.makedirs(inp)
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 100 == 0)
    for r in docs.select("doc_id", "text").collect():
        with open(os.path.join(inp, f"doc{r['doc_id']}"), "w") as fh:
            fh.write(r["text"])
    programs.tfidf_search_rank(spark, inp, outp, terms=SEARCH_TERMS)
    return read_kv_text(spark, outp).select(
        F.col("key").alias("doc_id"),
        F.round(F.col("value").cast("double"), 6).alias("score"),
    )


def _q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (contamination.contamination_spans):
    positional 8-gram leaks between the train/bench splits merged into
    maximal islands — the actionable form (cut THESE spans) of the
    doc-level contamination_audit."""
    from pagerank_mapreduce_implementation_spark.operators import contamination

    docs = Catalog(spark, sf_dir).documents
    return contamination.contamination_spans(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        ngram=8,
    )


def _luhn_card_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of oracles.luhn_cards_docs_sql (the corpus is
    digit-free, so the query manufactures what it audits — the
    _q_pii_redaction move): a 16-digit card-shaped number per
    customer, dash-grouped for custkey%3==0, absent for custkey%7==0,
    next to a constant 8-digit run that must never match."""
    cust = Catalog(spark, sf_dir).customer
    key = F.col("c_custkey")
    d16 = F.concat(
        F.lpad((key * 7919 % 100000).cast("string"), 5, "0"),
        F.lpad((key * 104729 % 100000).cast("string"), 5, "0"),
        F.lpad((key % 100000).cast("string"), 5, "0"),
        (key % 10).cast("string"),
    )
    grouped = F.concat(
        F.substring(d16, 1, 4), F.lit(" "), F.substring(d16, 5, 4),
        F.lit(" "), F.substring(d16, 9, 4), F.lit(" "), F.substring(d16, 13, 4),
    )
    card = F.when(
        key % 7 != 0,
        F.concat(
            F.lit("card "),
            F.when(key % 3 == 0, grouped).otherwise(d16),
            F.lit(" "),
        ),
    ).otherwise(F.lit(""))
    return cust.select(
        key.alias("doc_id"),
        F.concat(F.lit("order ref 12345678 "), card, F.lit("end")).alias("text"),
    )


def _q_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated card detection (redaction.luhn_scan): every
    card-shaped 13-19 digit run with its mod-10 Luhn verdict — the
    precision upgrade over the bare digit regex of pii_redaction.
    Zero-shuffle column math (F.aggregate over the reversed digits)."""
    from pagerank_mapreduce_implementation_spark.operators import redaction

    return redaction.luhn_scan(_luhn_card_docs(spark, sf_dir))


def _q_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-vs-padded batching audit (text.packing_report,
    budget=64): one row quantifying tail waste, split docs, bin
    crossings, and the padding the packer avoids."""
    return text.packing_report(Catalog(spark, sf_dir).documents, budget=64)


def _q_calibrate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source percent-rank calibration (sampling.
    calibrate_scores over n_chars): the tie-aware two-phase
    distributed rank — never a per-source single-task window."""
    return sampling.calibrate_scores(
        Catalog(spark, sf_dir).documents, score_col="n_chars"
    )


def _q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift (relational.ks_drift)
    between the error and purchase event value distributions — the
    distribution-SHAPE gate profile_drift's min/max/null sweep cannot
    be; cumulative CDFs via the distributed two-phase prefix."""
    ev = Catalog(spark, sf_dir).events
    return relational.ks_drift(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


def _q_margin_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-margin cross-corpus mining (similarity.margin_matches_ab,
    Artetxe & Schwenk 2019) over two deterministic corpus thirds:
    banded-LSH candidates, neighborhood-relative scoring — the
    hubness-robust bitext/match miner."""
    emb = Catalog(spark, sf_dir).embeddings
    return similarity.margin_matches_ab(
        emb.filter(F.col("vec_id") % 3 == 0),
        emb.filter(F.col("vec_id") % 3 == 1),
        k=4,
    )


def _q_profile_drift_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE-SCAN fusion of profile_drift (relational.
    profile_drift_where): old = a predicate slice of the same frame,
    profiled via conditional aggregation in a single pass — kept for
    genuinely scan-bound (cold columnar) use; the registered
    profile_drift stays the two-frame form that measured 2.1x faster
    warm (A/B cited there). SLIMMED r15 (r14 verdict item 6): the
    registration certifies the one-scan STRATEGY, which does not
    require the widest possible scan — profiling (l_quantity,
    l_returnflag) under an l_quantity < 45 slice keeps both
    range_changed branches live (quantity's old max drops to 44 ->
    true; returnflag's min/max survive the slice -> false) while
    dropping the l_orderkey exact-distinct that dominated the 9x
    Expand's hash agg (A/B at sf0.1, min-of-3 warm: 12.3 s 4-col ->
    4.5 s 2-col; the 5x Expand is scan-shaped). Oracle rebuilt from
    the same builder with the slim args — re-certifies at the FRONT
    of r16's window (r15's is fully subscribed)."""
    # r17: same spread as profile_drift — the x9 Expand of the fused
    # form otherwise runs inside the 3-task one-file scan stage
    return relational.profile_drift_where(
        Catalog(spark, sf_dir)
        .lineitem.select(*_DRIFT_COLS_SLIM)
        .repartition(spark.sparkContext.defaultParallelism),
        F.col("l_quantity") < 45,
        _DRIFT_COLS_SLIM,
    )


def _q_minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-recall audit (dedup.minhash_recall_report): plant
    mutated twins for a doc sample, run the production MinHash-LSH
    banding, and report what fraction of genuinely-above-threshold
    planted pairs the bands actually caught."""
    return dedup.minhash_recall_report(
        Catalog(spark, sf_dir).documents,
        drop_rate=0.15,
        sample_mod=10,
        threshold=0.3,
    )


# --- round-16 registrations (the r14/r15-staged cohort + the spectral
# --- audio gate) -------------------------------------------------------------


def _q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch-Kincaid readability per document
    (textstats.readability_scores): zero-shuffle per-row regexp counts
    with the pinned vowel-group syllable heuristic; the oracle replays
    the identical IEEE chain term by term."""
    return textstats.readability_scores(Catalog(spark, sf_dir).documents)


def _q_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus' own top-k
    head vocabulary (textstats.oov_stats): TakeOrderedAndProject top-k
    prune + broadcast membership join; non-vacuous at every sf because
    top-10 never covers the corpus vocabulary."""
    return textstats.oov_stats(Catalog(spark, sf_dir).documents, top_k=10)


def _q_simhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash banding recall audit (dedup.simhash_recall_report):
    plant dropped-token twins, run the production 15-bit-chunk banding
    in the beyond-pigeonhole regime (max_hamming 8 > chunks-1), report
    hits/qualifying — integer-exact end to end."""
    return dedup.simhash_recall_report(Catalog(spark, sf_dir).documents)


def _q_lsh_expected_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic LSH S-curve sweep (dedup.lsh_expected_recall):
    expected banding recall per (num_hashes, bands) candidate via the
    1-(1-s^r)^b amplification identity over the audits' shared planted
    truth — one shingle pass for the whole sweep, unrolled-power
    bit-exact oracle."""
    return dedup.lsh_expected_recall(Catalog(spark, sf_dir).documents)


def _q_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located fact-to-fact join end to end
    (programs.bucketed_revenue): bucket-materialize orders + lineitem
    on the join key, then the revenue rollup over the bucketed tables —
    the join itself plans with ZERO exchanges of either fact table
    (plan-asserted in tests/test_staged_ops3.py). Data unchanged by the
    round-trip, so the oracle is the plain join/rollup SQL."""
    return programs.bucketed_revenue(
        spark,
        f"{sf_dir}/orders.parquet",
        f"{sf_dir}/lineitem.parquet",
        table_prefix=f"drv_bkt_{os.getpid()}",
    )


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange round-trip (sources.catalog.write_csv/read_csv,
    the jsonl_roundtrip twin): documents -> quoted CSV shards ->
    explicit-schema read -> per-source rollup vs DuckDB over the
    ORIGINAL parquet — commas and quotes in text exercise the quoting
    path."""
    from pagerank_mapreduce_implementation_spark.sources.catalog import (
        read_csv,
        write_csv,
    )

    docs = Catalog(spark, sf_dir).documents
    path = _scratch_dir("csv_docs")
    write_csv(docs, path)
    back = read_csv(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _q_streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-vs-reference drift monitor (streaming_value_histogram
    -> relational.ks_from_histograms): the live slice (odd event ids)
    streams into occupied-bucket counts, the reference slice (even ids)
    profiles in batch with the same binning, binned KS compares the
    views. Oracle replays the CASE-free bucket expression + the binned
    KS chain on both slices."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev_stream = strm.read_events_stream(spark, sf_dir).filter(
        F.col("event_id") % 2 == 1
    )
    live = strm.queries.streaming_value_histogram(ev_stream, 25.0)
    name = f"_stream_ks_{next(_STREAM_SEQ)}"
    strm.run_to_memory(live, name, state_partitions=8)
    ref = relational.value_histogram(
        Catalog(spark, sf_dir).events.filter(F.col("event_id") % 2 == 0),
        "value",
        25.0,
    )
    return relational.ks_from_histograms(ref, spark.table(name))


def _q_audio_spectral_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPECTRAL (Haitsma-Kalker band-energy double-delta) audio
    fingerprint driver-gated (multimodal.wav_spectral_fingerprint as
    the injected hasher; r15 verdict item 6): a deterministic WAV per
    document (multimodal.wav_spectral_test_clip — groups of 4 share a
    group-keyed quadratic signal played at POWER-OF-2 gains, the exact
    regime where float64 FFT rounding commutes with scaling), hashed by
    the real wav codec + rfft path into the 60-bit spectral print, then
    the shared Hamming band join at max_hamming=0 (banding provably
    exact there: hamming 0 == every chunk collides). The signal is a
    function of (doc_id//4) % 256 alone, so the analytic truth is the
    same-class pair set — pinned non-vacuous and pairwise-distinct
    across all 256 classes by tests/test_phash.py's exhaustive audit."""
    import pandas as pd

    # spread across cores BEFORE the Python synth+hash pass (the
    # image_dct_dups r15 precedent, applied r17): the local sf tables
    # are one parquet file under maxPartitionBytes = ONE scan task, so
    # an un-spread mapInPandas pins the whole per-doc codec work to a
    # single core. Round-robin on doc_id rows only; per-doc outputs
    # are partitioning-independent, oracle hash unaffected.
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(
                        lambda d: multimodal.wav_encode(
                            multimodal.wav_spectral_test_clip(int(d)), 8000
                        )
                    ),
                }
            )

    blobs = docs.mapInPandas(synth, schema=multimodal.BLOB_SCHEMA)
    return multimodal.audio_near_dups(
        blobs, max_hamming=0, hasher=multimodal.wav_spectral_fingerprint
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 10-iteration reference-parity PageRank at sf0.001."""
    return _q_pagerank(spark, "/root/testdata/sf0.001")


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (sampling.dsir_weights, Xie et al.
    2023): score every non-English doc by how English-like its hashed
    (1,2)-gram profile is — Laplace-smoothed bucket distributions fit
    on the two language slices of the same corpus, log10 ratio summed
    over the doc's own bucket counts. 256 buckets (plan-time
    constant); corpus never collected."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        dsir_weights,
    )

    docs = Catalog(spark, sf_dir).documents
    return dsir_weights(
        docs.filter(F.col("lang") != "en"),
        docs.filter(F.col("lang") == "en"),
        n_buckets=256,
    )


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's Gumbel top-k resampling step (sampling.dsir_select):
    sample-without-replacement ∝ importance weight, made fully
    deterministic by driving the Gumbel noise from the 52-bit
    md5-uniform coin — the selected SET is a pure function of
    (corpus, salts) and bit-reproducible in the oracle. Top-100 of
    the non-English pool scored toward English."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        dsir_select,
    )

    docs = Catalog(spark, sf_dir).documents
    return dsir_select(
        docs.filter(F.col("lang") != "en"),
        docs.filter(F.col("lang") == "en"),
        k=100,
        n_buckets=256,
    )


def _q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe (sketches.bloom_filter_table /
    bloom_filter_probe): build a 1024-bit k=3 filter over the
    src0..src9 docs' content fingerprints, probe EVERY doc's
    fingerprint — members hit true, the rest mostly false with a
    DELIBERATE false-positive sliver (the 1024-bit sizing), all
    deterministic md5 arithmetic so the verdictS hash-exact
    cross-engine. The 100 TB story: broadcastable pre-filter that
    reserves the exact anti-join for the maybe_member sliver."""
    from pagerank_mapreduce_implementation_spark.operators.sketches import (
        bloom_filter_probe,
        bloom_filter_table,
    )

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        "source",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("item"),
    )
    build = docs.filter(
        F.col("source").isin([f"src{i}" for i in range(10)])
    )
    flt = bloom_filter_table(build, "item", n_bits=1024, n_hashes=3)
    return bloom_filter_probe(docs, flt, "item", n_bits=1024, n_hashes=3)


def _q_streaming_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Bloom membership probe (streaming.streaming_bloom_probe):
    the documents stream's content fingerprints checked per-row
    against the static filter built over the src0..src9 half — fully
    STATELESS (n_hashes stream-static broadcast joins, no distinct,
    no agg; append mode), zero streaming state. Output (doc_id,
    maybe_member); oracle = the batch row-wise composition."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.operators.sketches import (
        bloom_filter_table,
    )

    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    build = (
        Catalog(spark, sf_dir)
        .documents.filter(F.col("source").isin([f"src{i}" for i in range(10)]))
        .select(fp.alias("item"))
    )
    flt = bloom_filter_table(build, "item", n_bits=1024, n_hashes=3)
    stream = strm.read_table_stream(spark, sf_dir, "documents").select(
        "doc_id", fp.alias("item")
    )
    out = strm.streaming_bloom_probe(
        stream, flt, n_bits=1024, n_hashes=3
    ).select("doc_id", "maybe_member")
    name = f"_stream_bloom_{next(_STREAM_SEQ)}"
    strm.run_to_memory(out, name, output_mode="append", state_partitions=8)
    return spark.table(name)


def _q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram novelty (textstats.novelty_scores, n=5): share of each
    doc's distinct 5-grams appearing in NO other doc — the
    corpus-level originality / memorization-risk read pairwise dedup
    misses. tf-idf silhouette: shingle distinct + df groupBy on one
    partitioning, co-keyed join back, doc-bounded gather."""
    return textstats.novelty_scores(Catalog(spark, sf_dir).documents, n=5)


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (relational.retention_cohorts): users
    bucketed by first-event day, counted once per 7-day offset they
    return in. First-touch agg + co-partitioned join back + distinct
    count; no windows. Oracle: the same buckets via SQL min/datediff."""
    out = relational.retention_cohorts(Catalog(spark, sf_dir).events)
    # native DATE through the aggs; format the handful of output rows
    # only at the boundary (the daily_uniques convention)
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "week_offset",
        "n_users",
    )


def _q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct actives per day
    (relational.rolling_active_users): distinct user-days explode to
    their 7 report days (plan-constant fan-out) — never a per-day
    self-join over the log; horizon tail joined away on the observed
    days dim. Oracle: DuckDB rebuilds the same contribution table
    with unnest(range(7))."""
    out = relational.rolling_active_users(Catalog(spark, sf_dir).events)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "rolling_users"
    )


def _q_streaming_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-wins changelog compaction
    (streaming.streaming_changelog_compact): the live per-user
    snapshot over the events stream — ONE max_by struct per key of
    state, tombstone winners hidden post-agg, complete mode. The
    drained memory table IS the batch compaction, so it shares the
    batch twin's oracle: the strongest stream/batch parity gate."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    ev = strm.read_events_stream(spark, sf_dir)
    snap = strm.streaming_changelog_compact(ev)
    name = f"_stream_chlog_{next(_STREAM_SEQ)}"
    strm.run_to_memory(snap, name, output_mode="complete", state_partitions=8)
    return spark.table(name)


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index (text.build_inverted_index, one shard
    per word): the materialized IR artifact behind search/bm25 —
    postings as deterministic doc:pos,pos;doc:pos strings so the hash
    gate sees byte-identical values. One narrow posexplode + two
    key-bounded shuffles; the stopword one-row problem is handled by
    the shard_size path (union-of-shards associativity pytest-gated,
    sharding is md5-deterministic)."""
    return text.build_inverted_index(Catalog(spark, sf_dir).documents)


def _q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (graph.triangle_counts) over the
    lineitem-derived supplier graph: degree-ordered compact-forward
    enumeration (Suri & Vassilvitskii WWW'11) — orientation bounds
    every out-degree by O(sqrt m), so the wedge intermediate never
    hits the curse-of-the-last-reducer fan-out an id orientation
    leaves on a celebrity vertex. Oracle: the id-oriented formulation
    — different orientation, provably the same once-per-triangle
    counts."""
    return graph.triangle_counts(_edges(spark, sf_dir))


def _q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (graph.label_propagation, 5 rounds) over the lineitem-derived
    supplier graph: per-vertex community labels — in-neighbor majority
    vote per round, ties to the smallest label, no-inbound vertices
    keep their own. Edges shuffled ONCE onto src; per round one
    vertex-sized join + a (dst,label) vote count + a min_by argmax
    (no window sort). Oracle: 5 unrolled MATERIALIZED CTE rounds with
    the row_number formulation of the same tie-break."""
    return graph.label_propagation(_edges(spark, sf_dir), n_rounds=5)


def _q_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout sink round-trip (sources.write_zorder_parquet):
    events written on the (user_id, value) z-curve, read back through
    the parquet scan, and filtered with the conjunctive 2-D box the
    layout exists to serve. The curve shapes LAYOUT only — values are
    untouched — so the oracle is the plain filter; the footer-stat
    pruning claim is audited separately in tests/test_sources.py.
    Eagerly checkpointed so the temp dir can be deleted before the
    driver collects."""
    import shutil
    import tempfile

    from pagerank_mapreduce_implementation_spark.sources import write_zorder_parquet

    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    d = tempfile.mkdtemp(prefix="spark_graft_zorder_")
    try:
        write_zorder_parquet(ev, d, ["user_id", "value"], num_files=16)
        back = spark.read.parquet(d)
        return (
            back.filter(
                (F.col("user_id").between(10, 30))
                & (F.col("value").between(50.0, 120.0))
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (changelog.compact_changelog): latest-wins
    state per user over the events stream, 'error' winners treated as
    delete tombstones. ONE key shuffle via max_by over the unique
    (ts, event_id) sequence struct — partial agg, no window sort (a
    row_number window materializes every hot key's history in one
    task). Oracle: the window formulation — independent plan, same
    rows."""
    from pagerank_mapreduce_implementation_spark.operators import changelog

    ev = Catalog(spark, sf_dir).events
    return changelog.compact_changelog(
        ev, ["user_id"], ["ts", "event_id"], delete_expr="event_type = 'error'"
    )


def _q_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot maintenance (changelog.apply_changelog):
    base snapshot = compacted events before 2024-01-16, change batch =
    events after; apply merges batch winners over the snapshot
    (anti-join on the snapshot's own key + union, tombstones drop
    keys). The oracle is the BATCH RECOMPUTE over all events — the
    gate proves apply(compact(pre), post) == compact(pre ∪ post),
    i.e. the incremental path reproduces the full rebuild exactly."""
    from pagerank_mapreduce_implementation_spark.operators import changelog

    ev = Catalog(spark, sf_dir).events
    cut = "2024-01-16 00:00:00"
    base = changelog.compact_changelog(
        ev.filter(F.col("ts") < cut),
        ["user_id"],
        ["ts", "event_id"],
        delete_expr="event_type = 'error'",
    )
    batch = ev.filter(F.col("ts") >= cut)
    return changelog.apply_changelog(
        base, batch, ["user_id"], ["ts", "event_id"],
        delete_expr="event_type = 'error'",
    )


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-merge training (text.bpe_train, 16 merges):
    the tokenizer-TRAINING counterpart of the vendored BPE encoder.
    Corpus touched once (word-count shuffle); each merge iterates on
    the Heaps-law-bounded vocab table with a pure-Catalyst aggregate
    fold (struct (out, pend) accumulator = exact left-to-right
    resume-after-merge semantics) and a bounded 1-row argmax collect —
    the argmax IS the model parameter. Oracle: 16 unrolled
    (pairs -> argmax -> list_reduce apply) CTE triples; tie-break
    (count DESC, lhs ASC, rhs ASC) on exact BIGINT counts both sides."""
    return text.bpe_train(Catalog(spark, sf_dir).documents, num_merges=16)


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier (textstats.quality_classifier_scores):
    logistic regression over handcrafted feature ratios, z-score
    standardized, 10 full-batch GD steps — the fastText-style learned
    quality filter, made oracle-gateable by round-12/decimal(32,12)
    moment+gradient sums (order-independent exact addition) and
    IEEE-exact double arithmetic everywhere else; the DuckDB oracle
    RETRAINS the model from the same CTEs and lands on bit-identical
    weights. Weak label: doc length > 300 chars (the synthetic corpus
    ships no learnable semantic labels; accuracy ~0.97 shows real
    learning, not label lookup — length is not a direct feature)."""
    return textstats.quality_classifier_scores(
        Catalog(spark, sf_dir).documents.repartition(
            spark.sparkContext.defaultParallelism
        ),
        F.length("text") > 300,
        n_iters=10,
        learning_rate=1.0,
    )


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (textstats.bigram_lm_scores) —
    the CCNet-style corpus-self-trained LM quality filter one order
    above lm_scores' unigram surprisal; add-1 smoothed conditional
    -log10 averaged per doc, rounded 6."""
    return textstats.bigram_lm_scores(Catalog(spark, sf_dir).documents)


def _q_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy stats (textstats.entropy_stats): per-doc
    Shannon entropy in bits — the classic compressibility proxy. The
    operator is a zero-shuffle per-row sorted fold; the oracle is
    relational (unnest + GROUP BY) — two independent formulations
    under one hash gate. Spread across cores first (the
    gopher_repetition staging note: a zero-shuffle CPU-bound pass
    inherits the scan's split count, and the local sf tables are one
    file)."""
    return textstats.entropy_stats(
        Catalog(spark, sf_dir).documents.repartition(
            spark.sparkContext.defaultParallelism
        )
    )


# --- round-11 additions -----------------------------------------------------

# Bipartite order-part graph from lineitem: vertex/edge counts scale
# WITH the data but per-vertex degree stays flat (median ~4, max ~50
# at every sf) — the right testbed for degree-conditioned algorithms,
# where the dense supplier graph's degrees grow with sf and would
# make any fixed k degenerate.
def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    return li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )


_BIPARTITE_EDGES_SQL = (
    "SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src, "
    "'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem"
)
_BIPARTITE_BIDIR_SQL = (
    f"SELECT src, dst FROM ({_BIPARTITE_EDGES_SQL}) "
    f"UNION ALL SELECT dst AS src, src AS dst FROM ({_BIPARTITE_EDGES_SQL})"
)
_BFS_SOURCES = ["o1"]


def _q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (graph.bfs_distances) over the
    bidirectional bipartite order-part graph: 6 synchronous frontier
    rounds from order o1 — orders at even distances, parts at odd.
    Frontier-only relaxation: each round joins ONLY last round's
    newly-reached vertices against the once-deduped edge table.
    Directed edges are distinct'd BEFORE the bidir union (half the
    dedup shuffle bytes; the direction sets are disjoint on the
    bipartite graph, so the union is ALREADY simple — the simple edge
    set the operator expects).
    Oracle: unrolled MATERIALIZED frontier CTEs."""
    e = _bipartite_edges(spark, sf_dir).distinct()
    bidir = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return graph.bfs_distances(bidir, _BFS_SOURCES, n_rounds=6)


def _q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (graph.kcore, k=3, 5 synchronous rounds) over
    the undirected simple order-part graph — each round deletes
    vertices of degree < 3 with their edges; survivors report their
    final in-subgraph degree. Peels ~20% of vertices at every sf
    (the flat degree distribution is why the bipartite graph is the
    testbed). Oracle: unrolled peel rounds."""
    return graph.kcore(_bipartite_edges(spark, sf_dir), k=3, n_rounds=5)


def _q_grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (relational.pricing_grouping_sets):
    two unrelated pivots + grand total in ONE Expand + hash-agg pass
    — the multi-level-agg family member CUBE/ROLLUP cannot express.
    Decimal-cast sums per the relational module's determinism note."""
    return relational.pricing_grouping_sets(Catalog(spark, sf_dir).lineitem)


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source head/middle/tail perplexity bucketing
    (textstats.perplexity_buckets): bigram-LM nll scored corpus-wide,
    ntile(3) WITHIN each source ordered (nll, doc_id) — the rounded
    nll makes the sort key cross-engine exact."""
    return textstats.perplexity_buckets(Catalog(spark, sf_dir).documents)


def _q_tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine pairs (text.tfidf_doc_pairs): inverted-
    index self-join in the df<=64-capped term subspace, decimal-cast
    order-independent dot/norm sums, cosine >= 0.3 on the rounded
    value. The lexical sibling of the embedding cosine_pairs."""
    return text.tfidf_doc_pairs(
        Catalog(spark, sf_dir).documents, max_df=64, threshold=0.3
    )


def _q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup DECISION table (dedup.cluster_survivors): MinHash+LSH
    pairs -> star-contraction clusters -> quality-argmax survivor per
    cluster (ties to smallest doc_id), singletons survive. The full
    keep/drop verdict a production dedup pass applies."""
    return dedup.cluster_survivors(
        Catalog(spark, sf_dir).documents, threshold=0.5, ngram=5
    )


# --- round-12 registrations: staged-cohort tranche 1 (r11 verdict
# items 1/3/4) — operators + oracles shipped in rounds 10-11 behind
# tests/test_staged_ops*.py, first driver certification this round ----------

_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]

_VALIDATE_RULES = {
    "qty_range": "l_quantity BETWEEN 1 AND 50",
    "key_present": "l_orderkey IS NOT NULL",
    "flag_domain": "l_returnflag IN ('A', 'N', 'R')",
    "price_positive": "l_extendedprice > 0",
    "impossible": "l_quantity > 1000",
}

_BIPARTITE_W_SQL = (
    "SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src, "
    "'p' || CAST(l_partkey AS VARCHAR) AS dst, "
    "CAST(l_quantity AS DOUBLE) AS w FROM lineitem"
)
_BIPARTITE_W_BIDIR_SQL = (
    f"SELECT src, dst, w FROM ({_BIPARTITE_W_SQL}) "
    f"UNION ALL SELECT dst AS src, src AS dst, w FROM ({_BIPARTITE_W_SQL})"
)
_CENTRALITY_SOURCES = ["o0", "o1"]


def _q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (relational.profile_table, exact mode): one row
    per profiled documents column with rows/nulls/distinct/typed
    min-max — ONE aggregation pass for all columns (plan-time struct
    explode reshapes the wide 1-row agg; no per-column jobs). The
    data-quality sweep a pipeline runs on every corpus drop — the
    corpus table is the registered target (the BASELINE scaling row);
    exact distinct counts are the audit/oracle config, approx is the
    100 TB default."""
    return relational.profile_table(
        Catalog(spark, sf_dir).documents, _PROFILE_COLS
    )


def _q_validate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation rules (relational.validate_table): per rule the
    row/violation counts + rate over lineitem, all rules folded into
    ONE conditional-sum agg pass (NULL counts as a violation — an
    expectation that cannot be shown true is false)."""
    return relational.validate_table(
        Catalog(spark, sf_dir).lineitem, _VALIDATE_RULES
    )


def _q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus shuffle (sampling.training_order): the
    seeded 52-bit md5 coin ranks every doc into a training position —
    distributed bucketed rank + broadcast offsets, NO global sort; the
    shuffle stage build_training_shards composes (same seed here, so
    this certifies that program's ordering stage in isolation too)."""
    return sampling.training_order(Catalog(spark, sf_dir).documents)


def _q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS partial-overlap report (dedup.winnow_matches): winnowing
    fingerprints (Schleimer 2003; k=5 char grams, window 4, one
    batched Arrow pass) -> df-capped fp self-join -> pairs sharing >= 3
    fingerprints. Catches a copied PASSAGE whole-doc similarity
    dilutes away."""
    return dedup.winnow_matches(
        Catalog(spark, sf_dir).documents, min_shared=3, max_fp_df=8
    )


def _q_edit_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dups (dedup.edit_verified_dups):
    MinHash+LSH candidate pairs re-checked with a banded Levenshtein
    kernel (distance > max_dist short-circuits the DP at the band edge
    — same accept set as the full distance, mirrored by DuckDB's
    levenshtein in the oracle)."""
    return dedup.edit_verified_dups(
        Catalog(spark, sf_dir).documents, max_dist=40, threshold=0.5, ngram=5
    )


def _q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (graph.sssp_weighted,
    4 synchronous Bellman-Ford rounds) over the bidirectional
    quantity-weighted order-part graph from order o1. Full-table
    relaxation per round (frontier-only would miss improvements to
    settled vertices); min per vertex. Oracle: unrolled relax CTEs."""
    li = Catalog(spark, sf_dir).lineitem
    e = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
        F.col("l_quantity").cast("double").alias("w"),
    )
    bidir = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return graph.sssp_weighted(bidir, _BFS_SOURCES, n_rounds=4)


def _q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients (graph.clustering_coefficients)
    over the supplier graph: per-vertex triangle counts (the
    triangle_counts canonical-orientation plan) joined with simple
    degrees; 2T/(d(d-1)) rounded 6."""
    return graph.clustering_coefficients(_edges(spark, sf_dir))


def _q_source_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled closeness/harmonic centrality (graph.source_centrality,
    Eppstein-Wang pivot form): per pivot one frontier-bounded BFS
    (4 rounds) over the bidirectional order-part graph, aggregated to
    (n_reached, harmonic, closeness) — decimal-exact reciprocal sums,
    integer distance sums."""
    # r17: the bfs_distances staging — dedup the DIRECTED edges once
    # (half the dedup bytes; direction sets are disjoint on the o-/p-
    # prefixed bipartite graph so the union is already simple), with
    # the repartition-before-distinct move so the dedup hash work runs
    # at full width — the simple edges the operator expects.
    e = (
        _bipartite_edges(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "src", "dst")
        .distinct()
    )
    bidir = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return graph.source_centrality(bidir, _CENTRALITY_SOURCES, n_rounds=4)


def _q_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase projection (graph.bipartite_projection): orders
    sharing >= 2 parts, right-degree-capped at 64 BEFORE pairing so
    the per-right-vertex fan-out is bounded by C(64,2) — the df-cap
    contract every pairing operator here uses."""
    return graph.bipartite_projection(
        _bipartite_edges(spark, sf_dir), min_shared=2, max_right_degree=64
    )


def _q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship PROGRAM driver-gated end-to-end (r11 verdict item
    3): programs.build_training_shards — seeded corpus shuffle
    (training_order) -> 512-token packed bins -> contiguous
    bins-div-64 shards written hive-partitioned + the manifest read
    back. The query returns the MANIFEST (shard, n_bins, n_tokens,
    doc_segments); the oracle recomputes the whole
    shuffle->pack->shard composition in SQL, so a drift anywhere in
    the program's pipeline (ordering, packing, shard math, the
    write/read round-trip) breaks the hash."""
    out = _scratch_dir("training_shards")
    return programs.build_training_shards(
        spark,
        f"{sf_dir}/documents.parquet",
        out,
        budget=512,
        bins_per_shard=64,
        shuffle_seed="torder",
    )


def _q_semdedup_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented wide-embedding SemDeDup path CERTIFIED AS A
    COMPOSITION (r11 verdict item 4): matryoshka-truncate the
    embeddings to 16 dims (renormalized prefix — zero-shuffle per-row
    math) and run dedup.semdedup over the REDUCED vectors. Proves the
    dims-shrink composes with the cluster-bounded dedup consumer under
    the full hash oracle: every Lloyd fold, assignment cosine and
    within-cell pair cosine is recomputed by DuckDB in the truncated
    space. Threshold 0.6 sits 1.1e-4 from the nearest pair cosine at
    sf0.01 (6.6e-5 at sf0.001) — no boundary jitter."""
    cat = Catalog(spark, sf_dir)
    trunc = emb_ops.truncate_embeddings(cat.embeddings, dims=16)
    return dedup.semdedup(
        cat.documents.select("doc_id", "lang", "source", "n_chars"),
        trunc,
        n_cells=8,
        threshold=0.6,
        n_iters=2,
        keep_rule="centroid_far",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING IS A ROTATION POLICY, not an accident: the grading
    # driver's correctness window checks the FIRST 50 entries, so each
    # round the front of this dict holds (a) queries that are NEW or
    # whose code/oracle changed this round, (b) queries whose last
    # green row is oldest; fresh-green unchanged queries rotate to the
    # back. FRESHNESS BUDGET (round-9 policy decision): every query
    # must have a driver-green row within the last
    # ceil(len(registry)/50) rounds — 4 rounds at the current 195
    # entries — enforced by tests/test_oracle_parity.py's rotation
    # tests (boundary-tolerant per r8 verdict item 3).
    return {
        # ROUND-16 WINDOW (first 50 = what the driver checks):
        # (a) 8 NEW registrations — the r14-staged cohort
        # (readability_scores, oov_stats, simhash_recall_report,
        # lsh_expected_recall — tests/test_staged_ops4.py) + the
        # r13-staged compositions (bucketed_revenue, csv_roundtrip,
        # streaming_ks_drift — tests/test_staged_ops3.py) + the
        # spectral-audio gate audio_spectral_dups (r15 verdict item 6;
        # tests/test_phash.py's exhaustive class audit). Registry steps
        # 196 -> 204, so the freshness budget becomes ceil(204/50) = 5
        # rounds (README §Registry capacity);
        # (b) profile_drift_where — args/oracle slimmed r15, re-certify
        # the changed form FIRST (capacity rule 3);
        # (c) the 41 OLDEST r12-green entries, so r17's due list
        # (the 8 r12 leftovers below the boundary) stays far under one
        # window. Verified with scripts/rotation_plan.py.
        "readability_scores": _q_readability_scores,
        "oov_stats": _q_oov_stats,
        "simhash_recall_report": _q_simhash_recall_report,
        "lsh_expected_recall": _q_lsh_expected_recall,
        "bucketed_revenue": _q_bucketed_revenue,
        "csv_roundtrip": _q_csv_roundtrip,
        "streaming_ks_drift": _q_streaming_ks_drift,
        "audio_spectral_dups": _q_audio_spectral_dups,
        # changed r15 (slim args + oracle in lockstep), r14 green row
        # carried the budget; re-certifies here per capacity rule 3
        "profile_drift_where": _q_profile_drift_where,
        # --- the 41 oldest r12-green entries (window slots 10-50)
        "profile_table": _q_profile_table,
        "validate_table": _q_validate_table,
        "training_order": _q_training_order,
        "winnow_matches": _q_winnow_matches,
        "edit_verified_dups": _q_edit_verified_dups,
        "sssp_weighted": _q_sssp_weighted,
        "source_centrality": _q_source_centrality,
        "bipartite_projection": _q_bipartite_projection,
        "training_shards": _q_training_shards,
        "semdedup_truncated": _q_semdedup_truncated,
        "bfs_distances": _q_bfs_distances,
        "kcore_peel": _q_kcore_peel,
        "semdedup": _q_semdedup,
        "image_dct_dups": _q_image_dct_dups,
        "audio_near_dups": _q_audio_near_dups,
        "video_near_dups": _q_video_near_dups,
        "video_shared_runs": _q_video_shared_runs,
        "substring_strip": _q_substring_strip,
        "streaming_phash_probe": _q_streaming_phash_probe,
        "orc_pricing_roundtrip": _q_orc_pricing_roundtrip,
        "line_dedup": _q_line_dedup,
        "c4_rules": _q_c4_rules,
        "substring_dedup": _q_substring_dedup,
        "image_phash_dups": _q_image_phash_dups,
        "ivf_topk_lloyd": _q_ivf_topk_lloyd,
        "incremental_minhash_dedup": _q_incremental_minhash,
        "minhash_dedup": _q_minhash_dedup,
        "exact_dedup": _q_exact_dedup,
        "incremental_dedup": _q_incremental_dedup,
        "lm_scores": _q_lm_scores,
        "doc_chunks": _q_doc_chunks,
        "pagerank_top20": _q_pagerank,
        "wiki_pagerank": _q_wiki_pagerank,
        "weighted_pagerank_top20": _q_weighted_pagerank,
        "personalized_pagerank_top20": _q_personalized_pagerank,
        "multimodal_chain": _q_multimodal_chain,
        "streaming_search": _q_streaming_search,
        "hll_sketch_rollup": _q_hll_sketch_rollup,
        "approx_value_percentiles": _q_approx_value_percentiles,
        "pagerank_textbook_top20": _q_pagerank_textbook,
        "embedding_dedup": _q_embedding_dedup,
        # --- window boundary (50) — below here: green within the
        # 5-round freshness budget (ceil(204/50); README §Registry
        # capacity). The due list is the 8 r12-green leftovers directly
        # below: they must re-certify by r17, when r12 falls out of the
        # r13..r17 file window. The staged r17 candidates were retired
        # unregistered (CHANGES.md): zipf_fit and intra_doc_line_dedup
        # remain as clean_corpus stages, the rest were deleted.
        # --- r12 remainder (green r12; THE r17 due list)
        "dedup_clusters": _q_dedup_clusters,
        "streaming_click_attribution": _q_streaming_click_attribution,
        "streaming_events_hourly": _q_streaming_events_hourly,
        "streaming_word_count": _q_streaming_word_count,
        "streaming_user_sessions": _q_streaming_user_sessions,
        "streaming_user_stats": _q_streaming_user_stats,
        "window_shoppers": _q_window_shoppers,
        "ngram_jaccard_prefix": _q_ngram_jaccard_prefix,
        # --- r13 cohort (green r13; due r17/r18)
        "normalize_text": _q_normalize_text,
        "fuzzy_contamination": _q_fuzzy_contamination,
        "ann_recall_report": _q_ann_recall_report,
        "token_budget_mix": _q_token_budget_mix,
        "dedup_report": _q_dedup_report,
        "trigram_lm_scores": _q_trigram_lm_scores,
        "bigram_pmi": _q_bigram_pmi,
        "bpe_fertility": _q_bpe_fertility,
        "chunk_sentences": _q_chunk_sentences,
        "truncate_embeddings": _q_truncate_embeddings,
        "mean_pool_embeddings": _q_mean_pool_embeddings,
        "cluster_top_terms": _q_cluster_top_terms,
        "group_compactness": _q_group_compactness,
        "curriculum_order": _q_curriculum_order,
        "profile_drift": _q_profile_drift,
        "key_skew_report": _q_key_skew_report,
        "value_histogram": _q_value_histogram,
        "streaming_lm_probe": _q_streaming_lm_probe,
        "streaming_rule_violations": _q_streaming_rule_violations,
        "streaming_value_histogram": _q_streaming_value_histogram,
        "corpus_health": _q_corpus_health,
        "cluster_report": _q_cluster_report,
        "shard_audit": _q_shard_audit,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "pagerank_files": _q_pagerank_files,
        "ngram_jaccard_dedup": _q_ngram_jaccard,
        "ngram_containment": _q_ngram_containment,
        "simhash_dedup": _q_simhash_dedup,
        "cosine_topk": _q_cosine_topk,
        "cosine_pairs": _q_cosine_pairs,
        "ivf_topk": _q_ivf_topk,
        "ivf_topk_batch": _q_ivf_topk_batch,
        "contamination_audit": _q_contamination,
        "pii_redaction": _q_pii_redaction,
        "cms_word_counts": _q_cms_word_counts,
        "bpe_train": _q_bpe_train,
        "changelog_compact": _q_changelog_compact,
        "zorder_roundtrip": _q_zorder_roundtrip,
        "lpa_communities": _q_lpa_communities,
        "triangle_counts": _q_triangle_counts,
        "inverted_index": _q_inverted_index,
        "streaming_changelog_compact": _q_streaming_changelog_compact,
        "retention_cohorts": _q_retention_cohorts,
        "rolling_active_users": _q_rolling_active_users,
        "changelog_apply": _q_changelog_apply,
        "hits_top20": _q_hits_top20,
        "clustering_coefficients": _q_clustering_coefficients,
        # --- r14 cohort (green r14; freshest — back of the rotation)
        "tfidf_files": _q_tfidf_files,
        "contamination_spans": _q_contamination_spans,
        "pii_luhn": _q_pii_luhn,
        "packing_report": _q_packing_report,
        "calibrate_scores": _q_calibrate_scores,
        "ks_drift": _q_ks_drift,
        "margin_matches": _q_margin_matches,
        "minhash_recall_report": _q_minhash_recall_report,
        "pca_project": _q_pca_project,
        "embedding_gram": _q_embedding_gram,
        "temperature_alloc": _q_temperature_alloc,
        "temperature_mix": _q_temperature_mix,
        "ivf_pq_topk": _q_ivf_pq_topk,
        "unimax_alloc": _q_unimax_alloc,
        "unimax_mix": _q_unimax_mix,
        "pq_encode": _q_pq_encode,
        "pq_topk": _q_pq_topk,
        "cdc_chunks": _q_cdc_chunks,
        "cdc_dedup": _q_cdc_dedup,
        "dsir_weights": _q_dsir_weights,
        "dsir_select": _q_dsir_select,
        "bigram_lm": _q_bigram_lm,
        "entropy_stats": _q_entropy_stats,
        "bloom_probe": _q_bloom_probe,
        "quality_classifier": _q_quality_classifier,
        "streaming_bloom_probe": _q_streaming_bloom_probe,
        "novelty_scores": _q_novelty_scores,
        "packed_bins_spans": _q_packed_bins_spans,
        "source_top_fraction": _q_source_top_fraction,
        "gopher_repetition": _q_gopher_repetition,
        "gopher_rules": _q_gopher_rules,
        "streaming_cms_counts": _q_streaming_cms_counts,
        "signup_funnel": _q_signup_funnel,
        "returnflag_cube": _q_returnflag_cube,
        "salted_brand_revenue": _q_salted_brand_revenue,
        "user_purchase_trend": _q_user_purchase_trend,
        "signup_followups": _q_signup_followups,
        "customer_order_gaps": _q_customer_order_gaps,
        "daily_type_pivot": _q_daily_type_pivot,
        "value_percentiles": _q_value_percentiles,
        "approx_daily_uniques": _q_approx_daily_uniques,
        "asof_clicks": _q_asof_clicks,
        "daily_uniques": _q_daily_uniques,
        "bm25_search": _q_bm25_search,
        "seq_packing": _q_seq_packing,
        "seq_packing_bpe": _q_seq_packing_bpe,
        "doc_chunks_bpe": _q_doc_chunks_bpe,
        "source_mix": _q_source_mix,
        "word_count": _q_word_count,
        # --- r15 cohort (green r15; freshest — back of the rotation)
        "grouping_sets_pricing": _q_grouping_sets_pricing,
        "perplexity_buckets": _q_perplexity_buckets,
        "tfidf_doc_pairs": _q_tfidf_doc_pairs,
        "cluster_survivors": _q_cluster_survivors,
        "salted_word_count": _q_salted_word_count,
        "word_count_boundary": _q_word_count_boundary,
        "doc_word_count": _q_doc_word_count,
        "term_frequency": _q_term_frequency,
        "tfidf": _q_tfidf,
        "search": _q_search,
        "search_top10": _q_search_top10,
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "nation_order_stats": _q_nation_order_stats,
        "nation_year_rollup": _q_nation_year_rollup,
        "order_priority": _q_order_priority,
        "order_priority_clean": _q_order_priority_clean,
        "brand_revenue": _q_brand_revenue,
        "supplier_nation_revenue": _q_supplier_nation_revenue,
        "top3_per_nation": _q_top3_per_nation,
        "events_hourly": _q_events_hourly,
        "user_sessions": _q_user_sessions,
        "event_props_stats": _q_event_props_stats,
        "customer_order_counts": _q_customer_order_counts,
        "repeat_error_users": _q_repeat_error_users,
        "cross_corpus_matches": _q_cross_corpus_matches,
        "hash_splits": _q_hash_splits,
        "weighted_doc_sample": _q_weighted_sample,
        "stratified_doc_sample": _q_stratified_sample,
        "source_quota": _q_source_quota,
        "streaming_exact_dedup": _q_streaming_exact_dedup,
        "streaming_bounded_dedup": _q_streaming_bounded_dedup,
        "streaming_approx_uniques": _q_streaming_approx_uniques,
        "blob_metadata": _q_blob_metadata,
        "token_stats": _q_token_stats,
        "quality_scores": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprints": _q_fingerprints,
        "repetition_scores": _q_repetition,
        "streaming_minhash_probe": _q_streaming_minhash_probe,
        "audio_features": _q_audio_features,
        "packed_bins": _q_packed_bins,
        "embedding_quantize": _q_embedding_quantize,
        "quantized_cosine_topk": _q_quantized_cosine_topk,
        "top_ngram_stats": _q_top_ngram_stats,
        "corpus_report": _q_corpus_report,
        "streaming_events_sliding": _q_streaming_events_sliding,
        "graph_degree_histogram": _q_graph_degree_histogram,
        "classify_domains": _q_classify_domains,
        "mad_outliers": _q_mad_outliers,
    }


def oracle_sql() -> dict[str, str]:
    terms = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    out = {
        # round-12 registrations (staged tranche 1 + program gates)
        "profile_table": oracles.profile_table_sql("documents", _PROFILE_COLS),
        "validate_table": oracles.validate_table_sql(
            "lineitem", _VALIDATE_RULES
        ),
        "training_order": oracles.training_order_sql(),
        "winnow_matches": oracles.winnow_matches_sql(
            k=5, w=4, min_shared=3, max_fp_df=8
        ),
        "edit_verified_dups": oracles.edit_verified_dups_sql(max_dist=40),
        "sssp_weighted": oracles.sssp_weighted_sql(
            _BFS_SOURCES, _BIPARTITE_W_BIDIR_SQL, n_rounds=4
        ),
        "clustering_coefficients": oracles.clustering_coefficients_sql(),
        "source_centrality": oracles.source_centrality_sql(
            _CENTRALITY_SOURCES, _BIPARTITE_BIDIR_SQL, n_rounds=4
        ),
        "bipartite_projection": oracles.bipartite_projection_sql(
            _BIPARTITE_EDGES_SQL, 2, 64
        ),
        "training_shards": oracles.training_shards_sql(
            budget=512, bins_per_shard=64, seed="torder"
        ),
        "semdedup_truncated": oracles.semdedup_sql(
            8,
            0.6,
            2,
            keep_rule="centroid_far",
            emb_sql=oracles.truncated_emb_sql(16, True),
        ),
        "pagerank_top20": pagerank_sql(EDGES_SQL, n_iters=10, limit=20),
        # degree distribution: duplicate-edge-counting degree agg +
        # histogram; dangling row = distinct vertices - scoring sources
        "graph_degree_histogram": (
            f"WITH e AS ({EDGES_SQL}), "
            "od AS (SELECT src, count(*) AS out_degree FROM e GROUP BY src), "
            "hist AS (SELECT out_degree, count(*) AS n_vertices FROM od "
            "GROUP BY out_degree), "
            "verts AS (SELECT DISTINCT src AS v FROM e "
            "UNION SELECT DISTINCT dst FROM e), "
            "z AS (SELECT CAST(0 AS BIGINT) AS out_degree, "
            "(SELECT count(*) FROM verts) - (SELECT count(*) FROM od) "
            "AS n_vertices) "
            "SELECT out_degree, n_vertices FROM hist "
            "UNION ALL SELECT out_degree, n_vertices FROM z WHERE n_vertices > 0"
        ),
        "word_count": (
            f"WITH {_TOK} SELECT word, count(*) AS cnt FROM tok GROUP BY word"
        ),
        # the salted rewrite must be value-identical to the plain count
        "salted_word_count": (
            f"WITH {_TOK} SELECT word, count(*) AS cnt FROM tok GROUP BY word"
        ),
        # \s*\b\s* splitting == extracting word runs + non-space punct
        # runs (DuckDB's RE2 mis-splits on the zero-width \b pattern, so
        # the oracle uses the extraction form — equivalent on any corpus
        # without whitespace-embedded punctuation runs)
        "word_count_boundary": (
            "WITH punct AS (SELECT doc_id, replace(text, ' ', ', ') AS text "
            "FROM documents), "
            "tok AS (SELECT unnest(regexp_extract_all(text, "
            r"'\w+|[^\w[:space:]]+')) AS word FROM punct) "
            "SELECT word, count(*) AS cnt FROM tok GROUP BY word"
        ),
        "doc_word_count": (
            f"WITH {_TOK_LOWER} "
            "SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY doc_id, word"
        ),
        # same (a+b-1)/b integer ceil for the chunk count, clamped so no
        # chunk start reaches n (text.chunk_documents' least() mirror);
        # DuckDB list slices are 1-based inclusive => [s+1 : s+window]
        "doc_chunks": (
            "WITH t AS (SELECT doc_id, list_filter("
            r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
            "FROM documents), "
            "c AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0), "
            "e AS (SELECT doc_id, toks, CAST(unnest(range(0, "
            "CAST(least(1 + floor((greatest(n - 32, 0) + 23) / 24.0), "
            "1 + floor((n - 1) / 24.0)) AS BIGINT))) AS INT) "
            "AS chunk_id FROM c) "
            "SELECT doc_id, chunk_id, "
            "array_to_string(toks[chunk_id*24 + 1 : chunk_id*24 + 32], ' ') AS chunk, "
            "CAST(len(toks[chunk_id*24 + 1 : chunk_id*24 + 32]) AS INT) AS n_tokens "
            "FROM e"
        ),
        "doc_chunks_bpe": oracles.doc_chunks_bpe_sql(32, 24),
        # two-phase prefix sum == one flat running sum over doc_id order
        # (the bucketing is a pure physical rewrite; integer arithmetic,
        # so the mirror needs no rounding at all)
        "lm_scores": (
            f"WITH {_TOK}, "
            "wc AS (SELECT word, count(*) AS wcnt FROM tok GROUP BY word), "
            "tt AS (SELECT sum(wcnt) AS total FROM wc) "
            "SELECT t.doc_id, count(*) AS n_tokens, "
            "round(sum(-log10(CAST(wcnt AS DOUBLE) / (SELECT total FROM tt))) "
            "/ count(*), 6) AS nll "
            "FROM tok t JOIN wc ON t.word = wc.word GROUP BY t.doc_id"
        ),
        "seq_packing": (
            "WITH t AS (SELECT doc_id, CAST(len(list_filter("
            r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) AS BIGINT) "
            "AS n_tokens FROM documents), "
            # DuckDB's sum(BIGINT) is HUGEINT, which surfaces as float64
            # (32.0 vs Spark's long 32) and breaks the value hash — cast
            # the window sum back to BIGINT (round-5 verdict item 1)
            "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER "
            "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens "
            "AS global_start FROM t) "
            "SELECT doc_id, n_tokens, global_start, "
            "global_start // 512 AS bin_id, "
            "global_start % 512 AS bin_offset FROM c"
        ),
        "seq_packing_bpe": oracles.seq_packing_bpe_sql(512),
        # bin assembly: flat running sum -> per-token global positions
        # -> per-bin ordered string_agg (DuckDB) == sort_array struct
        # concat (Spark); all-integer cuts, so the text is bit-exact
        "packed_bins": (
            "WITH t AS (SELECT doc_id, list_filter("
            r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
            "FROM documents), "
            "c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t), "
            "p AS (SELECT doc_id, toks, CAST(sum(n) OVER "
            "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n "
            "AS gs FROM c), "
            "tok AS (SELECT doc_id, gs + i - 1 AS gpos, toks[i] AS tok "
            "FROM p, unnest(range(1, len(toks) + 1)) AS u(i)) "
            "SELECT gpos // 512 AS bin_id, count(*) AS n_tokens, "
            "count(DISTINCT doc_id) AS n_docs, "
            "string_agg(tok, ' ' ORDER BY gpos) AS text "
            "FROM tok GROUP BY gpos // 512"
        ),
        "term_frequency": (
            f"WITH {_TOK_LOWER}, {_TF} "
            "SELECT doc_id, word, round(tf, 6) AS tf FROM tf"
        ),
        "tfidf": (
            f"WITH {_TOK_LOWER}, {_TF}, {_TFIDF} "
            "SELECT doc_id, word, round(tfidf, 6) AS tfidf FROM tfidf"
        ),
        "search": (
            f"WITH {_TOK_LOWER}, {_TF}, {_TFIDF} "
            f"SELECT doc_id, round(sum(tfidf), 6) AS score FROM tfidf "
            f"WHERE word IN ({terms}) GROUP BY doc_id"
        ),
        "search_top10": (
            f"WITH {_TOK_LOWER}, {_TF}, {_TFIDF} "
            f"SELECT doc_id, round(sum(tfidf), 6) AS score FROM tfidf "
            f"WHERE word IN ({terms}) GROUP BY doc_id "
            "ORDER BY score DESC, doc_id ASC LIMIT 10"
        ),
        # the streaming twin scores the SAME batch-built tf-idf index,
        # so the batch search oracle is its oracle verbatim
        "streaming_search": (
            f"WITH {_TOK_LOWER}, {_TF}, {_TFIDF} "
            f"SELECT doc_id, round(sum(tfidf), 6) AS score FROM tfidf "
            f"WHERE word IN ({terms}) GROUP BY doc_id"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty, "
            "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_base_price, "
            "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_disc_price, "
            "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_charge, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) AS avg_qty, "
            "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) AS avg_price, "
            "round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        ),
        "top_customers": (
            "WITH rev AS (SELECT o_custkey, "
            "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_custkey) "
            "SELECT c_custkey, c_name, revenue FROM rev "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY revenue DESC, c_custkey ASC LIMIT 10"
        ),
        "nation_order_stats": (
            "SELECT r_name, n_name, count(*) AS order_cnt, "
            "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name, n_name ORDER BY r_name, n_name"
        ),
        "order_priority": (
            "SELECT o_orderpriority, count(*) AS order_cnt FROM orders o "
            "WHERE EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05) "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        "order_priority_clean": (
            "SELECT o_orderpriority, count(*) AS order_cnt FROM orders o "
            "WHERE NOT EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05) "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        # in-batch keeper = min doc_id per fingerprint; cross-batch =
        # anti-join against the seen store (docs with id < 250)
        "incremental_minhash_dedup": oracles.incremental_minhash_sql(
            "doc_id % 3 = 0", "doc_id % 3 <> 0", threshold=0.5, ngram=5
        ),
        # the streaming probe's stateless per-row signatures are
        # bit-identical to the batch shuffle path, so its oracle is the
        # batch SQL restricted to the dup-of-store verdict
        "streaming_minhash_probe": oracles.streaming_minhash_probe_sql(
            "doc_id % 3 = 0", "doc_id % 3 <> 0", threshold=0.5, ngram=5
        ),
        "incremental_dedup": (
            "WITH fp AS (SELECT doc_id, lang, source, "
            f"{oracles.fingerprint_sql()} AS fingerprint FROM documents), "
            "seen AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250), "
            "batch AS (SELECT * FROM fp WHERE doc_id >= 250), "
            "keepers AS (SELECT * FROM (SELECT *, min(doc_id) OVER "
            "(PARTITION BY fingerprint) AS k FROM batch) WHERE doc_id = k) "
            "SELECT doc_id, fingerprint, lang, source FROM keepers "
            "WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.fingerprint = keepers.fingerprint)"
        ),
        "brand_revenue": (
            "SELECT p_brand, count(*) AS n_items, "
            "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "GROUP BY p_brand ORDER BY p_brand"
        ),
        # the streaming twin's cells are bit-identical to a batch CMS
        # over the same rows (commutative adds) -> full hash oracle
        "streaming_cms_counts": (
            "WITH src AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events), "
            "dd AS (SELECT unnest(range(0, 4)) AS d), "
            "cells AS (SELECT dd.d, ('0x' || substr(md5(CAST(dd.d AS VARCHAR) "
            "|| ':' || s.item), 1, 7))::UBIGINT % 256 AS bucket "
            "FROM src s CROSS JOIN dd), "
            "sk AS (SELECT d, bucket, count(*) AS cnt FROM cells GROUP BY d, bucket), "
            "items(item) AS (VALUES "
            + ", ".join(f"('{w}')" for w in CMS_USER_ITEMS)
            + "), "
            "probes AS (SELECT i.item, dd.d, ('0x' || substr(md5(CAST(dd.d AS "
            "VARCHAR) || ':' || i.item), 1, 7))::UBIGINT % 256 AS bucket "
            "FROM items i CROSS JOIN dd), "
            "est AS (SELECT p.item, min(coalesce(s.cnt, 0)) AS est FROM probes p "
            "LEFT JOIN sk s ON p.d = s.d AND p.bucket = s.bucket GROUP BY p.item), "
            "ex AS (SELECT item, count(*) AS exact FROM src WHERE item IN ("
            + ", ".join(f"'{w}'" for w in CMS_USER_ITEMS)
            + ") GROUP BY item) "
            "SELECT e.item, e.est, coalesce(x.exact, 0) AS exact, "
            "e.est - coalesce(x.exact, 0) AS overcount "
            "FROM est e LEFT JOIN ex x ON e.item = x.item"
        ),
        # same 52-bit md5 uniform as weighted_doc_sample; multiply
        # order (u*T < p*k) mirrored character-for-character
        "source_mix": (
            "WITH t AS (SELECT doc_id, source, n_chars, CAST(len(list_filter("
            r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) AS BIGINT) AS nt "
            "FROM documents), "
            "tot AS (SELECT source, sum(nt) AS T FROM t GROUP BY source), "
            "pr(source, p) AS (VALUES "
            + ", ".join(f"('{s}', {p})" for s, p in sorted(MIX_TARGET.items()))
            + "), "
            "t2 AS (SELECT tot.source, tot.T, pr.p FROM tot JOIN pr USING (source)), "
            "kk AS (SELECT min(CAST(T AS DOUBLE) / p) AS k FROM t2) "
            "SELECT t.doc_id, t.source, t.n_chars "
            "FROM t JOIN t2 ON t.source = t2.source, kk "
            "WHERE ('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 13))"
            "::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0 "
            "* CAST(t2.T AS DOUBLE) < t2.p * kk.k"
        ),
        # first-touch anchor (min signup), greedy per-step mins; TS_NS
        # casts match Spark's ns pandas dtype (same move as asof_clicks)
        "signup_funnel": (
            "WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events "
            "WHERE event_type = 'signup' GROUP BY user_id), "
            "s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e "
            "JOIN s1 ON e.user_id = s1.user_id WHERE e.event_type = 'click' "
            "AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 72 HOUR "
            "GROUP BY e.user_id), "
            "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e "
            "JOIN s1 ON e.user_id = s1.user_id "
            "JOIN s2 ON e.user_id = s2.user_id WHERE e.event_type = 'purchase' "
            "AND e.ts > s2.t2 AND e.ts <= s1.t1 + INTERVAL 72 HOUR "
            "GROUP BY e.user_id) "
            "SELECT s1.user_id, CAST(s1.t1 AS TIMESTAMP_NS) AS t1, "
            "CAST(s2.t2 AS TIMESTAMP_NS) AS t2, "
            "CAST(s3.t3 AS TIMESTAMP_NS) AS t3, "
            "CAST(1 + (CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END) + "
            "(CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END) AS INT) AS reached "
            "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id "
            "LEFT JOIN s3 ON s1.user_id = s3.user_id"
        ),
        # Theil-Sen slope: the oracle IS the quadratic self-join the
        # grouped kernel exists to avoid — identical pair rule
        # (a.x < b.x), identical IEEE pair slopes; numpy's (a+b)/2
        # median interpolation vs quantile_cont's a+(b-a)/2 differs by
        # <= 1 ulp, absorbed by round(,9)
        "user_purchase_trend": (
            "WITH p AS (SELECT user_id, "
            "CAST(epoch_us(ts) AS DOUBLE)/1000000.0 AS x, value AS y "
            "FROM events WHERE event_type = 'purchase' "
            "AND ts IS NOT NULL AND value IS NOT NULL), "
            "n AS (SELECT user_id, count(*) AS n FROM p GROUP BY user_id), "
            "s AS (SELECT a.user_id, median((b.y - a.y)/(b.x - a.x)) AS slope "
            "FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x "
            "GROUP BY a.user_id) "
            "SELECT n.user_id, n.n, round(s.slope, 9) AS slope "
            "FROM n LEFT JOIN s ON n.user_id = s.user_id"
        ),
        "cms_word_counts": (
            f"WITH {_TOK}, "
            "dd AS (SELECT unnest(range(0, 4)) AS d), "
            "cells AS (SELECT dd.d, ('0x' || substr(md5(CAST(dd.d AS VARCHAR) "
            "|| ':' || t.word), 1, 7))::UBIGINT % 256 AS bucket "
            "FROM tok t CROSS JOIN dd), "
            "sk AS (SELECT d, bucket, count(*) AS cnt FROM cells GROUP BY d, bucket), "
            "items(item) AS (VALUES "
            + ", ".join(f"('{w}')" for w in CMS_ITEMS)
            + "), "
            "probes AS (SELECT i.item, dd.d, ('0x' || substr(md5(CAST(dd.d AS "
            "VARCHAR) || ':' || i.item), 1, 7))::UBIGINT % 256 AS bucket "
            "FROM items i CROSS JOIN dd), "
            "est AS (SELECT p.item, min(coalesce(s.cnt, 0)) AS est FROM probes p "
            "LEFT JOIN sk s ON p.d = s.d AND p.bucket = s.bucket GROUP BY p.item), "
            "ex AS (SELECT word AS item, count(*) AS exact FROM tok WHERE word IN ("
            + ", ".join(f"'{w}'" for w in CMS_ITEMS)
            + ") GROUP BY word) "
            "SELECT e.item, e.est, coalesce(x.exact, 0) AS exact, "
            "e.est - coalesce(x.exact, 0) AS overcount "
            "FROM est e LEFT JOIN ex x ON e.item = x.item"
        ),
        "returnflag_cube": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n_items, "
            "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
            "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
        ),
        # the salted rewrite must be value-identical to the plain join
        "salted_brand_revenue": (
            "SELECT p_brand, count(*) AS n_items, "
            "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "GROUP BY p_brand ORDER BY p_brand"
        ),
        "supplier_nation_revenue": (
            "SELECT n_name, count(*) AS n_items, "
            "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "GROUP BY n_name ORDER BY n_name"
        ),
        "exact_dedup": oracles.exact_dedup_sql(),
        "minhash_dedup": oracles.minhash_near_dups_sql(0.5, ngram=5),
        "ngram_jaccard_dedup": oracles.ngram_jaccard_sql(
            0.2, 5, max_shingle_df=NGRAM_MAX_SHINGLE_DF
        ),
        # prefix filtering is recall-EXACT: its oracle is the plain
        # uncapped naive join — the strongest possible statement that
        # the pruning changes nothing
        "ngram_jaccard_prefix": oracles.ngram_jaccard_sql(0.2, 5),
        "ngram_containment": oracles.ngram_containment_sql(
            0.5, 5, max_shingle_df=NGRAM_MAX_SHINGLE_DF
        ),
        "simhash_dedup": oracles.simhash_near_dups_sql(12),
        "substring_dedup": oracles.substring_runs_sql(
            8, 12, NGRAM_MAX_SHINGLE_DF
        ),
        # BM25 (Lucene idf form), mirroring text.bm25_search's pivoted
        # single-agg plan: per-term tf columns from one GROUP BY doc_id,
        # avgdl + per-term df from one 1-row agg of that frame, and the
        # score summed as the SAME left-to-right ordered addition over
        # the terms list (deterministic — no partial-agg association
        # order on either side); round(6) absorbs the remaining
        # log10/divide ulp
        "bm25_search": (
            f"WITH {_TOK_LOWER}, "
            "agg AS (SELECT doc_id, count(*) AS dl, "
            + ", ".join(
                f"sum(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
                for i, t in enumerate(SEARCH_TERMS)
            )
            + " FROM tok GROUP BY doc_id), "
            "st AS (SELECT CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl, "
            + ", ".join(
                f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
                for i in range(len(SEARCH_TERMS))
            )
            + " FROM agg), "
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents) "
            "SELECT doc_id, round("
            + " + ".join(
                f"(CASE WHEN tf{i} > 0 THEN "
                f"log10(1.0 + (nn.n - st.df{i} + 0.5)/(st.df{i} + 0.5)) "
                f"* (tf{i} * 2.2) / "
                f"(tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl / st.avgdl)) "
                "ELSE 0.0 END)"
                for i in range(len(SEARCH_TERMS))
            )
            + ", 6) AS score FROM agg, st, nn WHERE "
            + " OR ".join(f"tf{i} > 0" for i in range(len(SEARCH_TERMS)))
        ),
        "image_phash_dups": oracles.phash_near_dups_sql(10),
        # int8 quantization: float->double lossless, identical IEEE
        # division/multiply, round() is half-away-from-zero in BOTH
        # engines — the full quantized vector hash-compares exactly
        "embedding_quantize": (
            "WITH v AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
            "m AS (SELECT vec_id, v, "
            "list_max(list_transform(v, x -> abs(x))) AS mx FROM v) "
            "SELECT vec_id, round(mx/127, 9) AS scale, "
            "CASE WHEN mx > 0 THEN array_to_string(list_transform(v, "
            "x -> CAST(CAST(round(x/mx*127, 0) AS INT) AS VARCHAR)), ',') "
            "ELSE array_to_string(list_transform(v, x -> '0'), ',') END "
            "AS qvec FROM m"
        ),
        # audio twin: regenerate the deterministic int16 signal from the
        # same integer formula, fold RMS/ZCR with list_sum (== the
        # extractor's sequential python folds), float32 round-trip cast
        # on the features (the multimodal_chain move)
        "audio_features": (
            "WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents), "
            "s AS (SELECT doc_id, n, list_transform(range(0, n), "
            "i -> (doc_id * 31 + i * 17) % 256 - 128) AS sm FROM d), "
            "fr AS (SELECT doc_id, n, sm[1 : n // 2] AS f0, "
            "sm[n // 2 + 1 : n] AS f1 FROM s) "
            "SELECT doc_id, CAST(8000 AS INT) AS sample_rate, "
            "CAST(n AS BIGINT) AS n_samples, "
            "n * 1000.0 / 8000.0 AS duration_ms, "
            "CAST(44 + 2 * n AS BIGINT) AS n_bytes, "
            + ", ".join(
                "round(CAST(CAST(sqrt(list_sum(list_transform("
                f"{f}, v -> (v/32768.0)*(v/32768.0))) / len({f})) "
                f"AS REAL) AS DOUBLE), 6) AS rms_{i}, "
                "round(CAST(CAST(list_sum(list_transform("
                f"range(1, len({f})), j -> CASE WHEN {f}[j] * {f}[j+1] < 0 "
                f"THEN 1 ELSE 0 END)) / (len({f}) - 1) AS REAL) AS DOUBLE), 6) "
                f"AS zcr_{i}"
                for i, f in enumerate(["f0", "f1"])
            )
            + " FROM fr"
        ),
        # per-source rollup: quality CTE shared with quality_scores,
        # DECIMAL(18,6)-cast quality sum (order-independent), BIGINT
        # casts on the HUGEINT window sums (the r5 lesson), broadcast
        # total for token_share
        "corpus_report": (
            f"WITH {_TOKS_ARR}, q AS (SELECT doc_id, "
            "CAST(length(text) AS INT) AS n_chars, len(toks) AS n_tokens, "
            r"length(regexp_replace(text, '[A-Za-z0-9[:space:]]', '', 'g')) AS punct, "
            f"len(list_filter(toks, w -> list_contains({_SQL_STOP}, lower(w)))) AS stop "
            "FROM t), "
            "qq AS (SELECT doc_id, n_tokens, "
            "round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE)/100) "
            "+ 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0.0 END)) "
            "+ 0.3 * (1.0 - (CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE)/n_tokens ELSE 0.0 END)), 6) AS quality "
            "FROM q), "
            "j AS (SELECT d.source, qq.n_tokens, strlen(d.text) AS nb, qq.quality "
            "FROM documents d JOIN qq ON d.doc_id = qq.doc_id), "
            "per AS (SELECT source, count(*) AS n_docs, "
            "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, "
            "CAST(sum(nb) AS BIGINT) AS n_bytes, "
            "round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) "
            "AS avg_quality FROM j GROUP BY source), "
            "tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS T FROM per) "
            "SELECT source, n_docs, n_tokens, n_bytes, avg_quality, "
            "round(CAST(n_tokens AS DOUBLE) / CAST(tt.T AS DOUBLE), 6) AS token_share "
            "FROM per, tt"
        ),
        # per-doc top n-gram: duplicates-kept 2-gram windows, argmax by
        # (count desc, gram asc) — the deterministic tiebreak that makes
        # the winning gram itself hash-comparable
        "top_ngram_stats": (
            "WITH t AS (SELECT doc_id, list_filter("
            r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
            "FROM documents), "
            "g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN "
            "list_transform(range(1, len(toks)), "
            "i -> toks[i] || ' ' || toks[i+1]) ELSE [] END) AS gram FROM t), "
            "c AS (SELECT doc_id, gram, count(*) AS cnt FROM g "
            "GROUP BY doc_id, gram), "
            "r AS (SELECT doc_id, gram, cnt, row_number() OVER "
            "(PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn, "
            "CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_ngrams "
            "FROM c) "
            "SELECT doc_id, gram AS top_gram, cnt AS top_cnt, n_ngrams, "
            "round(CAST(cnt AS DOUBLE) / n_ngrams, 6) AS top_frac "
            "FROM r WHERE rn = 1"
        ),
        # serving over the int8 store: identical quantization CTEs,
        # then the same sequential-fold cosine as cosine_topk over the
        # integer arrays (scale cancels in cosine)
        "quantized_cosine_topk": (
            "WITH v AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
            "m AS (SELECT vec_id, v, "
            "list_max(list_transform(v, x -> abs(x))) AS mx FROM v), "
            "qv AS (SELECT vec_id, CASE WHEN mx > 0 THEN list_transform(v, "
            "x -> CAST(CAST(round(x/mx*127, 0) AS INT) AS DOUBLE)) "
            "ELSE list_transform(v, x -> 0.0) END AS q FROM m), "
            "qq AS (SELECT q FROM qv WHERE vec_id = 0) "
            "SELECT e.vec_id, round("
            "list_sum(list_transform(range(1, len(e.q) + 1), "
            "i -> e.q[i] * qq.q[i])) / "
            "(sqrt(list_sum(list_transform(range(1, len(e.q) + 1), "
            "i -> e.q[i] * e.q[i]))) * "
            "sqrt(list_sum(list_transform(range(1, len(qq.q) + 1), "
            "i -> qq.q[i] * qq.q[i])))), 6) AS cos "
            "FROM qv e, qq WHERE e.vec_id <> 0 "
            "ORDER BY cos DESC, e.vec_id ASC LIMIT 10"
        ),
        "cosine_topk": oracles.cosine_topk_sql(0, 10),
        "cosine_pairs": oracles.cosine_pairs_lsh_sql(0.25, num_planes=16, bands=2),
        "ivf_topk": oracles.ivf_topk_sql(0, 10, 16, 4),
        "ivf_topk_batch": oracles.ivf_topk_batch_sql([0, 7, 21, 42, 99], 10, 16, 4),
        "ivf_topk_lloyd": oracles.ivf_topk_lloyd_sql(
            0, k=10, n_cells=8, n_probe=3, n_iters=2, dims=64
        ),
        "cross_corpus_matches": oracles.cosine_matches_ab_sql(
            "vec_id % 10 <> 0", "vec_id % 10 = 0", 0.25
        ),
        "token_stats": (
            f"WITH {_TOKS_ARR} SELECT doc_id, "
            "CAST(len(toks) AS INT) AS n_tokens, "
            "CAST(len(regexp_extract_all(text, "
            r"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]')) AS INT) AS n_pieces, "
            "round(CASE WHEN len(toks) > 0 THEN "
            "CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)/len(toks) "
            "ELSE 0.0 END, 6) AS avg_token_len FROM t"
        ),
        "quality_scores": (
            f"WITH {_TOKS_ARR}, q AS (SELECT doc_id, "
            "CAST(length(text) AS INT) AS n_chars, len(toks) AS n_tokens, "
            r"length(regexp_replace(text, '[A-Za-z0-9[:space:]]', '', 'g')) AS punct, "
            f"len(list_filter(toks, w -> list_contains({_SQL_STOP}, lower(w)))) AS stop "
            "FROM t) "
            "SELECT doc_id, n_chars, "
            "round(CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS punct_ratio, "
            "round(CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS stopword_ratio, "
            "round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE)/100) "
            "+ 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0.0 END)) "
            "+ 0.3 * (1.0 - (CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE)/n_tokens ELSE 0.0 END)), 6) AS quality "
            "FROM q"
        ),
        "lang_id": _lang_id_sql(),
        "contamination_audit": oracles.contamination_sql(5, 0.01, 20),
        "repetition_scores": oracles.repetition_ratio_sql(2),
        # mirror of _q_pii_redaction + redaction.PATTERNS: identical
        # card construction, counts on the running (previously-masked)
        # text, global replace in URL -> email -> phone order
        "pii_redaction": (
            "WITH cards AS (SELECT c_custkey AS doc_id, "
            "'contact ' || c_name || ' ' || "
            "CASE WHEN c_custkey % 3 <> 0 THEN 'user' || CAST(c_custkey AS VARCHAR) "
            "|| '@example.com ' ELSE '' END || "
            "CASE WHEN c_custkey % 4 <> 0 THEN '555-' || "
            "lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' || "
            "lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' ' ELSE '' END || "
            "CASE WHEN c_custkey % 5 <> 0 THEN 'https://ex.com/c/' || "
            "CAST(c_custkey AS VARCHAR) || ' ' ELSE '' END || 'end' AS t "
            "FROM customer), "
            r"u AS (SELECT doc_id, CAST(len(regexp_extract_all(t, 'https?://[^[:space:]]+')) AS INT) "
            r"AS n_urls, regexp_replace(t, 'https?://[^[:space:]]+', '[URL]', 'g') AS t FROM cards), "
            "e AS (SELECT doc_id, n_urls, CAST(len(regexp_extract_all(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, "
            "regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'[EMAIL]', 'g') AS t FROM u) "
            "SELECT doc_id, n_urls, n_emails, "
            r"CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phones, "
            r"regexp_replace(t, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted FROM e"
        ),
        # mirror of sampling.hash_split: md5('split:'||id) 15-hex-digit
        # prefix mod 100 -> 90/5/5 named ranges
        "hash_splits": (
            "SELECT doc_id, CAST(b AS INT) AS bucket, "
            "CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' "
            "ELSE 'test' END AS split FROM (SELECT doc_id, "
            "('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))"
            "::UBIGINT::BIGINT % 100 AS b FROM documents)"
        ),
        # identical IEEE arithmetic as sampling.weighted_sample: 52-bit
        # md5 uniform, power-of-two division, one multiply, one compare
        "weighted_doc_sample": (
            "SELECT doc_id, n_bytes FROM (SELECT doc_id, "
            "CAST(octet_length(encode(text)) AS INT) AS n_bytes, "
            "('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 13))"
            "::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0 AS u FROM documents) "
            "WHERE u * 600.0 < CAST(n_bytes AS DOUBLE)"
        ),
        # stratum-max normalizer (order-independent) keeps the compare
        # IEEE-exact — same 52-bit md5 uniform as weighted_doc_sample
        "stratified_doc_sample": (
            "SELECT doc_id, source, n_bytes FROM (SELECT doc_id, source, "
            "CAST(octet_length(encode(text)) AS INT) AS n_bytes, "
            "('0x' || substr(md5('swsample:' || CAST(doc_id AS VARCHAR)), 1, 13))"
            "::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0 AS u, "
            "max(CAST(octet_length(encode(text)) AS INT)::DOUBLE) "
            "OVER (PARTITION BY source) AS mxw FROM documents) "
            "WHERE u * mxw < 0.7 * CAST(n_bytes AS DOUBLE)"
        ),
        "source_quota": (
            f"WITH {_TOKS_ARR}, q AS (SELECT doc_id, "
            "CAST(length(text) AS INT) AS n_chars, len(toks) AS n_tokens, "
            r"length(regexp_replace(text, '[A-Za-z0-9[:space:]]', '', 'g')) AS punct, "
            f"len(list_filter(toks, w -> list_contains({_SQL_STOP}, lower(w)))) AS stop "
            "FROM t), "
            "qual AS (SELECT doc_id, "
            "round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE)/100) "
            "+ 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0.0 END)) "
            "+ 0.3 * (1.0 - (CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE)/n_tokens ELSE 0.0 END)), 6) AS quality "
            "FROM q), "
            "j AS (SELECT d.doc_id, d.source, qual.quality FROM documents d "
            "JOIN qual ON d.doc_id = qual.doc_id) "
            "SELECT doc_id, source, quality, CAST(rn AS INT) AS rn FROM ("
            "SELECT *, row_number() OVER (PARTITION BY source "
            "ORDER BY quality DESC, doc_id ASC) AS rn FROM j) WHERE rn <= 50"
        ),
        # distinct fingerprints only: the surviving doc_id of a dup
        # group is arrival-order-dependent in a stream, the fingerprint
        # set is not
        "streaming_exact_dedup": (
            f"SELECT DISTINCT {oracles.fingerprint_sql()} AS fingerprint FROM documents"
        ),
        # horizon > event-time span => no state expiry => exact DISTINCT
        "streaming_bounded_dedup": "SELECT DISTINCT user_id FROM events",
        "fingerprints": (
            f"WITH {_TOKS_ARR} SELECT doc_id, "
            "list_reduce(list_prepend(0::BIGINT, list_transform(toks, "
            "w -> CAST(('0x' || substr(md5(w), 1, 7)) AS UBIGINT)::BIGINT)), "
            "(acc, h) -> (acc * 131 + h) % 1000000007) AS fingerprint FROM t"
        ),
        "blob_metadata": (
            "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "md5(text) AS content_md5 FROM documents"
        ),
        # analytic twin of the PPM chain: solid image => resample is the
        # identity on the pixel triplet and channel mean == byte/255
        # (REAL round-trip mirrors the float32 embedding storage);
        # resized payload md5 is taken over the uppercase HEX string
        # (Spark hex == DuckDB hex) because DuckDB md5 is VARCHAR-only
        "multimodal_chain": (
            "WITH base AS (SELECT doc_id, "
            "CAST(4 + doc_id % 13 AS INT) AS width, "
            "CAST(4 + doc_id % 11 AS INT) AS height, "
            "upper(substr(md5(text), 1, 6)) AS trip FROM documents) "
            "SELECT doc_id, width, height, 'ppm' AS format, "
            "CAST(octet_length(encode('P6' || chr(10) || width || ' ' || height "
            "|| chr(10) || '255' || chr(10))) + 3 * width * height AS BIGINT) "
            "AS n_bytes, "
            "md5(hex(encode('P6' || chr(10) || '8 6' || chr(10) || '255' "
            "|| chr(10))) || repeat(trip, 48)) AS resized_md5, "
            "round(CAST(CAST(CAST(('0x' || substr(trip, 1, 2)) AS INT) / 255.0 "
            "AS REAL) AS DOUBLE), 6) AS feat_r, "
            "round(CAST(CAST(CAST(('0x' || substr(trip, 3, 2)) AS INT) / 255.0 "
            "AS REAL) AS DOUBLE), 6) AS feat_g, "
            "round(CAST(CAST(CAST(('0x' || substr(trip, 5, 2)) AS INT) / 255.0 "
            "AS REAL) AS DOUBLE), 6) AS feat_b "
            "FROM base"
        ),
        "top3_per_nation": (
            "SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS INT) AS rn FROM ("
            "SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER ("
            "PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn "
            "FROM customer) WHERE rn <= 3"
        ),
        "events_hourly": (
            "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start, "
            "event_type, count(*) AS cnt, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_sum "
            "FROM events GROUP BY 1, event_type"
        ),
        "streaming_events_hourly": (
            "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP_NS) AS window_start, "
            "CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP_NS) AS window_end, "
            "event_type, count(*) AS cnt, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_sum "
            "FROM events GROUP BY 1, 2, 3"
        ),
        "streaming_word_count": (
            f"WITH {_TOK} SELECT word, count(*) AS cnt FROM tok GROUP BY word"
        ),
        # sliding 2h/1h: each event belongs to exactly TWO windows,
        # starts = {hour(ts) - 1h, hour(ts)} — regenerated via unnest,
        # then the same count/decimal-sum as the tumbling twin
        "streaming_events_sliding": (
            "WITH x AS (SELECT event_type, value, "
            "unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR, "
            "date_trunc('hour', ts)]) AS ws FROM events) "
            "SELECT CAST(ws AS TIMESTAMP_NS) AS window_start, "
            "CAST(ws + INTERVAL 2 HOUR AS TIMESTAMP_NS) AS window_end, "
            "event_type, count(*) AS cnt, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_sum "
            "FROM x GROUP BY ws, event_type"
        ),
        # gaps-and-islands mirror of Spark's session_window: a new
        # session starts when the gap to the previous event is >= 30
        # minutes (Spark windows are end-exclusive: an event at exactly
        # prev_end starts a new session); session_end = last event + gap
        "user_sessions": _SESSIONS_SQL,
        "streaming_user_sessions": _SESSIONS_SQL,
        "nation_year_rollup": (
            "SELECT n_name, o_year, count(*) AS order_cnt, "
            "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) "
            "AS total_price FROM (SELECT n_name, year(o_orderdate) AS o_year, "
            "o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey) "
            "GROUP BY ROLLUP (n_name, o_year)"
        ),
        "event_props_stats": (
            "WITH k AS (SELECT event_type, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) "
            # CAST: DuckDB sum(BIGINT) -> HUGEINT -> pandas float64,
            # which hash-mismatches Spark's int64 on equal values
            "SELECT event_type, count(*) AS cnt, CAST(sum(k) AS BIGINT) AS k_sum, "
            "min(k) AS k_min, max(k) AS k_max FROM k GROUP BY event_type"
        ),
        # approx_daily_uniques: the raw HLL++ estimate is
        # implementation-defined, so the compared columns are the exact
        # count + the 3-sigma bound FLAG — the oracle says every day
        # must be in bound (1), and a drifting estimate turns the row
        # red. CAST: DuckDB count(DISTINCT) is BIGINT (int64, matches
        # Spark); the literal 1 is INTEGER (int32, matches the int cast)
        "approx_daily_uniques": (
            "SELECT strftime(ts, '%Y-%m-%d') AS day, "
            "count(DISTINCT user_id) AS exact_uniques, "
            "CAST(1 AS INTEGER) AS est_in_bound "
            "FROM events GROUP BY strftime(ts, '%Y-%m-%d')"
        ),
        # sketch rollup: day estimates AND the sketch-union total must
        # each sit inside the 3-sigma bound; exact values anchor the hash
        "hll_sketch_rollup": (
            "SELECT strftime(ts, '%Y-%m-%d') AS day, "
            "count(DISTINCT user_id) AS exact_uniques, "
            "CAST(1 AS INTEGER) AS day_in_bound, "
            "(SELECT count(DISTINCT user_id) FROM events) AS exact_total, "
            "CAST(1 AS INTEGER) AS total_in_bound "
            "FROM events GROUP BY strftime(ts, '%Y-%m-%d')"
        ),
        # streaming twin runs the same HLL over the same rows -> same
        # exact counts and the same must-be-in-bound flag
        "streaming_approx_uniques": (
            "SELECT strftime(ts, '%Y-%m-%d') AS day, "
            "count(DISTINCT user_id) AS exact_uniques, "
            "CAST(1 AS INTEGER) AS est_in_bound "
            "FROM events GROUP BY strftime(ts, '%Y-%m-%d')"
        ),
        "customer_order_gaps": (
            "WITH g AS (SELECT o_custkey, date_diff('day', "
            "lag(o_orderdate) OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate, o_orderkey), o_orderdate) AS gap_days "
            "FROM orders) "
            "SELECT o_custkey AS c_custkey, count(*) AS n_orders, "
            "round(avg(gap_days), 6) AS avg_gap_days FROM g GROUP BY o_custkey"
        ),
        "daily_type_pivot": (
            "SELECT strftime(ts, '%Y-%m-%d') AS day, "
            "count(*) FILTER (WHERE event_type = 'click') AS n_click, "
            "count(*) FILTER (WHERE event_type = 'error') AS n_error, "
            "count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase, "
            "count(*) FILTER (WHERE event_type = 'signup') AS n_signup, "
            "count(*) FILTER (WHERE event_type = 'view') AS n_view "
            "FROM events GROUP BY strftime(ts, '%Y-%m-%d')"
        ),
        "value_percentiles": (
            "SELECT event_type, "
            "round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.9), 6) AS p90, "
            "round(quantile_cont(value, 0.99), 6) AS p99 "
            "FROM events GROUP BY event_type"
        ),
        # approx_value_percentiles: like approx_daily_uniques, the GK
        # sketch output is implementation-defined, so the compared
        # columns are the exact percentiles + the in-rank-bound FLAG
        "approx_value_percentiles": (
            "SELECT event_type, "
            "round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.9), 6) AS p90, "
            "CAST(1 AS INTEGER) AS est_in_bound "
            "FROM events GROUP BY event_type"
        ),
        "customer_order_counts": (
            "SELECT c_custkey, c_name, c_nationkey, "
            "coalesce(cnt.n_orders, 0) AS n_orders FROM customer "
            "LEFT JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders "
            "GROUP BY o_custkey) cnt ON c_custkey = o_custkey"
        ),
        "repeat_error_users": (
            "SELECT user_id FROM events WHERE event_type = 'purchase' "
            "INTERSECT "
            "SELECT user_id FROM events WHERE event_type = 'error'"
        ),
        "window_shoppers": (
            "SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events "
            "WHERE event_type = 'view' "
            "EXCEPT "
            "SELECT user_id, strftime(ts, '%Y-%m-%d') FROM events "
            "WHERE event_type = 'purchase'"
        ),
        "asof_clicks": oracles.asof_clicks_sql(),
        "signup_followups": oracles.signup_followups_sql(window_hours=1),
        "daily_uniques": oracles.daily_uniques_sql(),
        "embedding_dedup": oracles.embedding_dedup_sql(0.25, num_planes=16, bands=2),
        "bpe_train": oracles.bpe_train_sql(16),
        "changelog_compact": oracles.changelog_compact_sql(),
        "lpa_communities": oracles.label_propagation_sql(n_rounds=5),
        "triangle_counts": oracles.triangle_counts_sql(),
        "inverted_index": oracles.inverted_index_sql(),
        # stream/batch parity: the drained complete-mode table equals
        # the batch compaction, so the twins share one oracle
        "streaming_changelog_compact": oracles.changelog_compact_sql(),
        "retention_cohorts": (
            "WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day "
            "FROM events GROUP BY user_id), "
            "t AS (SELECT DISTINCT e.user_id, f.cohort_day, "
            "CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) / 7) AS INT) "
            "AS week_offset FROM events e JOIN f ON e.user_id = f.user_id) "
            "SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, "
            "week_offset, count(*) AS n_users FROM t "
            "GROUP BY cohort_day, week_offset"
        ),
        "rolling_active_users": (
            "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
            "FROM events), "
            "days AS (SELECT DISTINCT day FROM ud), "
            "c AS (SELECT user_id, day + CAST(i AS INT) AS report_day FROM "
            "(SELECT user_id, day, unnest(range(0, 7)) AS i FROM ud)) "
            "SELECT strftime(c.report_day, '%Y-%m-%d') AS day, "
            "count(DISTINCT c.user_id) AS rolling_users "
            "FROM c JOIN days d ON c.report_day = d.day GROUP BY c.report_day"
        ),
        # layout-only sink: the z-curve shapes file placement, never
        # values, so the round-trip oracle is the plain filter
        "zorder_roundtrip": (
            "SELECT event_id, ts, user_id, event_type, value FROM events "
            "WHERE user_id BETWEEN 10 AND 30 AND value BETWEEN 50.0 AND 120.0"
        ),
        # the apply gate IS the batch recompute: incremental == rebuild
        "changelog_apply": oracles.changelog_compact_sql(),
        "temperature_alloc": oracles.temperature_alloc_sql(9000.0, tau=2.0),
        "temperature_mix": oracles.temperature_mix_sql(9000.0, tau=2.0),
        "ivf_pq_topk": oracles.ivf_pq_topk_sql(
            query_vec_id=0, topk=10, m=4, k=8, n_iters=2, dims=64,
            n_cells=8, n_probe=3,
        ),
        "unimax_alloc": oracles.unimax_alloc_sql(9000.0, 0.35),
        "unimax_mix": oracles.unimax_mix_sql(9000.0, 0.35),
        "pq_encode": oracles.pq_encode_sql(m=4, k=8, n_iters=2, dims=64),
        "pq_topk": oracles.pq_topk_sql(
            query_vec_id=0, topk=10, m=4, k=8, n_iters=2, dims=64
        ),
        "cdc_chunks": oracles.cdc_chunks_sql(window=3, divisor=16),
        "cdc_dedup": oracles.cdc_dup_stats_sql(window=3, divisor=16),
        "dedup_clusters": oracles.connected_components_sql(
            "SELECT doc_a, doc_b FROM ("
            + oracles.minhash_near_dups_sql(0.5, ngram=5)
            + ")"
        ),
        "streaming_click_attribution": (
            "WITH p AS (SELECT event_id, user_id, ts, round(value, 2) AS "
            "purchase_value FROM events WHERE event_type = 'purchase'), "
            "c AS (SELECT event_id AS click_event_id, user_id AS click_user_id, "
            "ts AS click_ts FROM events WHERE event_type = 'click') "
            "SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP_NS) AS ts, "
            "p.purchase_value, c.click_event_id, "
            "CAST(c.click_ts AS TIMESTAMP_NS) AS click_ts FROM p JOIN c "
            "ON p.user_id = c.click_user_id "
            "AND c.click_ts >= p.ts - INTERVAL 1 HOUR AND c.click_ts < p.ts"
        ),
        "streaming_user_stats": (
            "SELECT user_id, count(*) AS n_events, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_sum, "
            "count(*) FILTER (WHERE event_type = 'error') AS n_error "
            "FROM events GROUP BY user_id"
        ),
        "wiki_pagerank": pagerank_sql(
            edges_sql="SELECT url AS src, unnest(outlinks) AS dst FROM pg",
            n_iters=10,
            limit=20,
            vertices_sql="SELECT url FROM pg",
            prelude_ctes=_WIKI_PRELUDE,
        ),
        "pagerank_textbook_top20": oracles.textbook_pagerank_sql(
            EDGES_SQL, n_iters=10, limit=20
        ),
        "weighted_pagerank_top20": oracles.weighted_pagerank_sql(
            n_iters=10, limit=20, mode="reference"
        ),
        "personalized_pagerank_top20": oracles.weighted_pagerank_sql(
            n_iters=10,
            limit=20,
            mode="textbook",
            reset_sql=(
                "SELECT 's' || CAST(s_suppkey AS VARCHAR) AS url, "
                "1.0 / (SELECT count(*) FROM supplier WHERE s_suppkey % 10 = 0) "
                "AS reset FROM supplier WHERE s_suppkey % 10 = 0"
            ),
        ),
        # round-9 registrations (the six round-8 operators + the new
        # contiguous-run video variant)
        "audio_near_dups": oracles.audio_near_dups_sql(8),
        "video_near_dups": oracles.video_near_dups_sql(2),
        "video_shared_runs": oracles.video_shared_runs_sql(2),
        "substring_strip": oracles.strip_substring_runs_sql(
            8, 12, NGRAM_MAX_SHINGLE_DF
        ),
        "streaming_phash_probe": oracles.streaming_phash_probe_sql(10),
        "gopher_rules": oracles.gopher_rules_sql(),
        "dsir_weights": oracles.dsir_weights_sql(n_buckets=256),
        "dsir_select": oracles.dsir_select_sql(k=100, n_buckets=256),
        "bigram_lm": oracles.bigram_lm_sql(),
        "entropy_stats": oracles.entropy_stats_sql(),
        "quality_classifier": oracles.quality_classifier_sql(
            "length(text) > 300", n_iters=10, learning_rate=1.0
        ),
        "novelty_scores": oracles.novelty_scores_sql(5),
        # quality_scores' formula + a per-source proportional window
        # cut: rank by (quality DESC, doc_id), keep ceil(0.3 * n)
        "source_top_fraction": (
            f"WITH {_TOKS_ARR}, q AS (SELECT t.doc_id AS doc_id, "
            "documents.source AS source, "
            "len(toks) AS n_tokens, CAST(length(t.text) AS INT) AS n_chars, "
            r"length(regexp_replace(t.text, '[A-Za-z0-9[:space:]]', '', 'g')) AS punct, "
            f"len(list_filter(toks, w -> list_contains({_SQL_STOP}, lower(w)))) AS stop "
            "FROM t JOIN documents ON t.doc_id = documents.doc_id), "
            "s AS (SELECT doc_id, source, "
            "round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE)/100) "
            "+ 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0.0 END)) "
            "+ 0.3 * (1.0 - (CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE)/n_tokens ELSE 0.0 END)), 6) AS quality "
            "FROM q), "
            "r AS (SELECT doc_id, source, quality, "
            "row_number() OVER (PARTITION BY source "
            "ORDER BY quality DESC, doc_id) AS rk, "
            "count(*) OVER (PARTITION BY source) AS gn FROM s) "
            "SELECT doc_id, source, quality FROM r "
            "WHERE rk <= ceil(gn * 0.3)"
        ),
        # packed_bins plus the head-token doc-boundary map: a head is
        # the token at max(doc global_start, bin start) — same flag
        # arithmetic as the Spark side's __doc_head
        "packed_bins_spans": (
            "WITH t AS (SELECT doc_id, list_filter("
            r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
            "FROM documents), "
            "c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t), "
            "p AS (SELECT doc_id, toks, CAST(sum(n) OVER "
            "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n "
            "AS gs FROM c), "
            "tok AS (SELECT doc_id, gs, gs + i - 1 AS gpos, toks[i] AS tok "
            "FROM p, unnest(range(1, len(toks) + 1)) AS u(i)) "
            "SELECT gpos // 512 AS bin_id, count(*) AS n_tokens, "
            "count(DISTINCT doc_id) AS n_docs, "
            "string_agg(tok, ' ' ORDER BY gpos) AS text, "
            "coalesce(string_agg(CAST(gpos % 512 AS VARCHAR) || ':' || "
            "CAST(doc_id AS VARCHAR), ';' ORDER BY gpos) "
            "FILTER (WHERE gpos = greatest(gs, (gpos // 512) * 512)), '') "
            "AS doc_spans "
            "FROM tok GROUP BY gpos // 512"
        ),
        # row-wise (per-doc) twin of bloom_probe — no distinct, the
        # streaming probe's exact batch composition
        "streaming_bloom_probe": (
            f"WITH fp AS (SELECT doc_id, source, {oracles.fingerprint_sql()} AS item "
            "FROM documents), "
            "cells AS (SELECT ('0x' || substr(md5('bloom:' || h || ':' "
            "|| item), 1, 15))::UBIGINT::BIGINT % 1024 AS p "
            "FROM (SELECT DISTINCT item FROM fp WHERE source IN "
            "('src0','src1','src2','src3','src4','src5','src6','src7',"
            "'src8','src9')), (VALUES (0),(1),(2)) t(h)), "
            "words AS (SELECT p // 32 AS word, "
            "bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits "
            "FROM cells GROUP BY 1), "
            "pc AS (SELECT doc_id, ('0x' || substr(md5('bloom:' || h || "
            "':' || item), 1, 15))::UBIGINT::BIGINT % 1024 AS p "
            "FROM fp, (VALUES (0),(1),(2)) t(h)), "
            "hits AS (SELECT doc_id, CASE WHEN bits IS NOT NULL AND "
            "(bits & mask) = mask THEN 1 ELSE 0 END AS hit "
            "FROM (SELECT doc_id, p // 32 AS word, "
            "1::BIGINT << CAST(p % 32 AS INT) AS mask FROM pc) "
            "LEFT JOIN words USING(word)) "
            "SELECT doc_id, CAST(min(hit) AS BOOLEAN) AS maybe_member "
            "FROM hits GROUP BY 1"
        ),
        # mirror of sketches.bloom_filter_table/_probe: same md5 bit
        # positions ('bloom:<h>:' salts), 32-bit words, bit_or cells,
        # all-bits-present verdict; build half = src0..src9
        "bloom_probe": (
            f"WITH fp AS (SELECT source, {oracles.fingerprint_sql()} AS item "
            "FROM documents), "
            "cells AS (SELECT ('0x' || substr(md5('bloom:' || h || ':' "
            "|| item), 1, 15))::UBIGINT::BIGINT % 1024 AS p "
            "FROM (SELECT DISTINCT item FROM fp WHERE source IN "
            "('src0','src1','src2','src3','src4','src5','src6','src7',"
            "'src8','src9')), (VALUES (0),(1),(2)) t(h)), "
            "words AS (SELECT p // 32 AS word, "
            "bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits "
            "FROM cells GROUP BY 1), "
            "pc AS (SELECT item, ('0x' || substr(md5('bloom:' || h || "
            "':' || item), 1, 15))::UBIGINT::BIGINT % 1024 AS p "
            "FROM (SELECT DISTINCT item FROM fp), "
            "(VALUES (0),(1),(2)) t(h)), "
            "hits AS (SELECT item, CASE WHEN bits IS NOT NULL AND "
            "(bits & mask) = mask THEN 1 ELSE 0 END AS hit "
            "FROM (SELECT item, p // 32 AS word, "
            "1::BIGINT << CAST(p % 32 AS INT) AS mask FROM pc) "
            "LEFT JOIN words USING(word)) "
            "SELECT item, CAST(min(hit) AS BOOLEAN) AS maybe_member "
            "FROM hits GROUP BY 1"
        ),
        "line_dedup": oracles.line_dedup_sql(),
        "semdedup": oracles.semdedup_sql(8, 0.4, 2, keep_rule="centroid_far"),
        "hits_top20": oracles.hits_sql(limit=20),
        "gopher_repetition": oracles.gopher_repetition_sql(
            source=(
                "(SELECT doc_id, array_to_string("
                "[array_to_string(toks[(i*10+1):(i*10+10)], ' ') "
                "for i in range(CAST(ceil(len(toks)/10.0) AS BIGINT))], "
                "chr(10)) AS text FROM "
                "(SELECT doc_id, string_split(text, ' ') AS toks "
                "FROM documents)) staged"
            )
        ),
        "c4_rules": oracles.c4_rules_sql(
            source=(
                "(SELECT doc_id, array_to_string("
                "[array_to_string(toks[(i*10+1):(i*10+10)], ' ') || "
                "(CASE WHEN i % 3 < 2 THEN '.' ELSE '' END) "
                "for i in range(CAST(ceil(len(toks)/10.0) AS BIGINT))], "
                "chr(10)) AS text FROM "
                "(SELECT doc_id, string_split(text, ' ') AS toks "
                "FROM documents)) staged"
            )
        ),
        # the DCT hash's brightness-invariance prediction: a uniform
        # +40 gray shift lives entirely in the excluded DC coefficient,
        # so the pair set is EXACTLY base/shifted at hamming 0 — no
        # cos() in the oracle, yet one flipped bit (or one accidental
        # cross-pair 60-bit collision) breaks the hash gate
        "image_dct_dups": (
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0 AS hamming "
            "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 "
            "WHERE a.doc_id % 2 = 0"
        ),
    }
    # the ORC round-trip is value-faithful by construction, so its
    # oracle is pricing_summary's SQL verbatim — any ORC write/read
    # fidelity loss (types, partition-column round-trip) breaks the
    # hash gate
    out["orc_pricing_roundtrip"] = out["pricing_summary"]
    # --- round-11 additions ---
    out["bfs_distances"] = oracles.bfs_distances_sql(
        _BFS_SOURCES, edges_sql=_BIPARTITE_BIDIR_SQL, n_rounds=6
    )
    out["kcore_peel"] = oracles.kcore_sql(
        k=3, edges_sql=_BIPARTITE_EDGES_SQL, n_rounds=5
    )
    out["grouping_sets_pricing"] = (
        "SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year, "
        "count(*) AS n_items, "
        "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) "
        "AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
        "FROM lineitem GROUP BY GROUPING SETS "
        "((l_returnflag, l_linestatus), (l_returnflag, ship_year), ())"
    )
    out["perplexity_buckets"] = (
        f"WITH s AS (SELECT * FROM ({oracles.bigram_lm_sql()}) z), "
        "j AS (SELECT d.doc_id, d.source, s.nll FROM documents d "
        "JOIN s ON d.doc_id = s.doc_id), "
        "b AS (SELECT doc_id, source, nll, ntile(3) OVER "
        "(PARTITION BY source ORDER BY nll ASC, doc_id ASC) AS bucket FROM j) "
        "SELECT doc_id, source, nll, bucket, "
        "CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 2 THEN 'middle' "
        "ELSE 'tail' END AS bucket_name FROM b"
    )
    out["tfidf_doc_pairs"] = (
        f"WITH {_TOK_LOWER}, {_TF}, {_TFIDF}, "
        "kept AS (SELECT t.doc_id, t.word, t.tfidf FROM tfidf t "
        "JOIN dfreq USING (word) WHERE dfreq.df <= 64), "
        "norms AS (SELECT doc_id, sqrt(CAST(sum(CAST(tfidf*tfidf "
        "AS DECIMAL(18,6))) AS DOUBLE)) AS norm FROM kept GROUP BY doc_id), "
        "dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(sum(CAST(a.tfidf*b.tfidf AS DECIMAL(18,6))) AS DOUBLE) AS dot "
        "FROM kept a JOIN kept b ON a.word = b.word AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, round(dot/(na.norm*nb.norm), 6) AS cosine "
        "FROM dots JOIN norms na ON doc_a = na.doc_id "
        "JOIN norms nb ON doc_b = nb.doc_id "
        "WHERE round(dot/(na.norm*nb.norm), 6) >= 0.3"
    )
    cc = oracles.connected_components_sql(
        "SELECT doc_a, doc_b FROM ("
        + oracles.minhash_near_dups_sql(0.5, ngram=5)
        + ")"
    )
    out["cluster_survivors"] = (
        f"WITH comp AS (SELECT * FROM ({cc}) c), "
        f"q AS (SELECT doc_id, quality FROM ({out['quality_scores']}) z), "
        "m AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS cluster_id, "
        "q.quality FROM documents d LEFT JOIN comp ON d.doc_id = comp.vertex "
        "JOIN q ON q.doc_id = d.doc_id), "
        "w AS (SELECT cluster_id, doc_id AS survivor_id FROM "
        "(SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id "
        "ORDER BY quality DESC, doc_id ASC) AS rn FROM m) WHERE rn = 1) "
        "SELECT m.doc_id, m.cluster_id, w.survivor_id, "
        "m.doc_id = w.survivor_id AS keep "
        "FROM m JOIN w ON m.cluster_id = w.cluster_id"
    )
    # --- round-13 registrations -------------------------------------
    out["normalize_text"] = oracles.normalize_text_sql()
    out["fuzzy_contamination"] = oracles.fuzzy_contamination_sql(
        "doc_id % 7 <> 0", "doc_id % 7 = 0", threshold=0.05, ngram=3
    )
    out["ann_recall_report"] = oracles.ann_recall_sql(
        _ANN_QUERY_IDS, k=10, n_cells=16, n_probe=4
    )
    out["token_budget_mix"] = oracles.token_budget_mix_sql(_TOKEN_BUDGETS)
    # dedup_report == the cluster_survivors oracle wrapped in a
    # per-source GROUP BY over integer token counts
    out["dedup_report"] = (
        f"WITH cs AS ({out['cluster_survivors']}), "
        "t AS (SELECT doc_id, source, CAST(len(list_filter("
        "regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) "
        "AS BIGINT) AS nt FROM documents), "
        "j AS (SELECT t.source, t.nt, cs.keep FROM t "
        "JOIN cs ON t.doc_id = cs.doc_id) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
        "CAST(sum(nt) AS BIGINT) AS tokens_total, "
        "CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT) "
        "AS tokens_kept, "
        "round(1.0 - CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ count(*), 6) AS drop_rate "
        "FROM j GROUP BY source"
    )
    out["trigram_lm_scores"] = oracles.trigram_lm_sql()
    # mad_outliers: quality CTE shared with quality_scores (the
    # corpus_report pattern), wrapped by the per-source median/MAD SQL
    _quality_sql = (
        f"WITH {_TOKS_ARR}, q AS (SELECT doc_id, "
        "CAST(length(text) AS INT) AS n_chars, len(toks) AS n_tokens, "
        "length(regexp_replace(text, '[A-Za-z0-9[:space:]]', '', 'g')) "
        "AS punct, "
        f"len(list_filter(toks, w -> list_contains({_SQL_STOP}, lower(w)))) "
        "AS stop FROM t) "
        "SELECT doc_id, "
        "round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE)/100) "
        "+ 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN "
        "CAST(punct AS DOUBLE)/n_chars ELSE 0.0 END)) "
        "+ 0.3 * (1.0 - (CASE WHEN n_tokens > 0 THEN "
        "CAST(stop AS DOUBLE)/n_tokens ELSE 0.0 END)), 6) AS quality "
        "FROM q"
    )
    out["mad_outliers"] = oracles.mad_outliers_sql(_quality_sql)
    # classify_domains (registered r15): DEFAULT_TAXONOMY keyword
    # argmax — the oracle builder regenerates the same plan-time
    # keyword literals and the integer-encoded tiebreak.
    out["classify_domains"] = oracles.classify_domains_sql()
    out["bigram_pmi"] = oracles.bigram_pmi_sql(min_count=2)
    out["bpe_fertility"] = oracles.bpe_fertility_sql()
    out["chunk_sentences"] = oracles.chunk_sentences_sql(window=3, stride=2)
    out["truncate_embeddings"] = oracles.truncate_embeddings_sql(dims=16)
    out["mean_pool_embeddings"] = oracles.mean_pool_sql(dims=64)
    out["embedding_gram"] = oracles.embedding_gram_sql(dims=64)
    out["pca_project"] = oracles.pca_project_sql(_PCA_COMPONENTS, _PCA_MEANS)
    out["cluster_top_terms"] = oracles.cluster_top_terms_sql(
        n_cells=4, k=3, weighting="ctfidf"
    )
    out["group_compactness"] = oracles.group_compactness_sql(dims=64)
    out["curriculum_order"] = oracles.curriculum_order_sql()
    out["profile_drift"] = oracles.profile_drift_sql(
        "lineitem", _DRIFT_COLS, "l_orderkey % 3 <> 0"
    )
    out["key_skew_report"] = oracles.key_skew_report_sql(
        "lineitem", _SKEW_KEYS, top_n=10
    )
    out["value_histogram"] = oracles.value_histogram_sql(
        "documents", "n_chars", 100
    )
    # the streaming twins share their batch oracles (the
    # streaming_search gate pattern)
    out["streaming_lm_probe"] = oracles.bigram_lm_sql()
    _rule_cases = " UNION ALL ".join(
        f"SELECT '{nm}' AS rule, date_trunc('hour', ts) AS ws, "
        "count(*) AS n_rows, "
        f"CAST(coalesce(sum(CASE WHEN ({ex}) THEN 0 ELSE 1 END), 0) "
        "AS BIGINT) AS n_violations, "
        "round(CAST(coalesce(sum(CASE WHEN "
        f"({ex}) THEN 0 ELSE 1 END), 0) AS DOUBLE) / count(*), 6) "
        "AS violation_rate FROM events GROUP BY 2"
        for nm, ex in _EVENT_RULES.items()
    )
    out["streaming_rule_violations"] = (
        "SELECT CAST(ws AS TIMESTAMP_NS) AS window_start, "
        "CAST(ws + INTERVAL 1 HOUR AS TIMESTAMP_NS) AS window_end, "
        f"rule, n_rows, n_violations, violation_rate FROM ({_rule_cases})"
    )
    out["streaming_value_histogram"] = oracles.value_histogram_sql(
        "events", "value", 25.0
    )
    out["corpus_health"] = oracles.validate_table_sql(
        "documents", _HEALTH_RULES
    )
    out["cluster_report"] = oracles.cluster_report_sql(
        n_cells=8, n_iters=2, k_terms=5, weighting="ctfidf", dims=64
    )
    # shard_audit over a FRESH build: actuals == manifest, all ok —
    # the manifest itself recomputed end-to-end (training_shards_sql)
    out["shard_audit"] = (
        "SELECT shard, n_bins, n_bins AS n_bins_actual, "
        "n_tokens, n_tokens AS n_tokens_actual, "
        "doc_segments, doc_segments AS doc_segments_actual, TRUE AS ok "
        f"FROM ({oracles.training_shards_sql(budget=256, bins_per_shard=16, seed='torder')}) m"
    )
    out["jsonl_roundtrip"] = (
        # BIGINT casts: DuckDB sum(BIGINT) is HUGEINT -> float64 in
        # pandas, which would hash-mismatch Spark's long
        "SELECT source, count(*) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS chars, "
        "CAST(sum(length(text)) AS BIGINT) AS text_chars, "
        "min(doc_id) AS min_id, "
        "max(doc_id) AS max_id FROM documents GROUP BY source"
    )
    # the file pipeline re-reads the O3 text sink; content == the wiki
    # pagerank (seed 1/n_lines == 1/|pages| on this corpus), so the
    # SAME SQL gates the round-trip
    out["pagerank_files"] = out["wiki_pagerank"]
    # --- round-14 registrations (the r13-staged cohort) ---
    out["tfidf_files"] = oracles.tfidf_files_sql(SEARCH_TERMS)
    out["contamination_spans"] = oracles.contamination_spans_sql(
        "doc_id % 20 <> 0", "doc_id % 20 = 0", ngram=8
    )
    out["pii_luhn"] = oracles.luhn_scan_sql(oracles.luhn_cards_docs_sql())
    out["packing_report"] = oracles.packing_report_sql(64)
    out["calibrate_scores"] = oracles.calibrate_scores_sql()
    out["ks_drift"] = oracles.ks_drift_sql(
        "SELECT value FROM events WHERE event_type = 'error'",
        "SELECT value FROM events WHERE event_type = 'purchase'",
    )
    out["margin_matches"] = oracles.margin_matches_ab_sql(
        "vec_id % 3 = 0", "vec_id % 3 = 1", k=4, margin_threshold=1.0
    )
    # the fused one-scan form returns row-for-row what the two-frame
    # profile_drift(old_slice, table, cols) returns — same builder,
    # slim args (r15 trim: see _q_profile_drift_where)
    out["profile_drift_where"] = oracles.profile_drift_sql(
        "lineitem", _DRIFT_COLS_SLIM, "l_quantity < 45"
    )
    out["minhash_recall_report"] = oracles.minhash_recall_report_sql(
        drop_rate=0.15, sample_mod=10, threshold=0.3, ngram=2
    )
    # --- round-16 registrations (the r14/r15-staged cohort) ---
    out["readability_scores"] = oracles.readability_sql()
    out["oov_stats"] = oracles.oov_stats_sql(top_k=10)
    out["simhash_recall_report"] = oracles.simhash_recall_report_sql()
    out["lsh_expected_recall"] = oracles.lsh_expected_recall_sql()
    # bucket materialization changes the PLAN, never the data — the
    # oracle is the plain join/rollup (tests/test_staged_ops3.py twin)
    out["bucketed_revenue"] = (
        "SELECT o_orderpriority, count(*) AS n_items, "
        "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) "
        "AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    # content survives the CSV interchange round-trip == the rollup
    # over the ORIGINAL parquet (BIGINT casts: the jsonl lesson)
    out["csv_roundtrip"] = out["jsonl_roundtrip"]
    _ks_hist = (
        "SELECT CAST(floor(CAST(value AS DECIMAL(38,6)) / 25) * 25 "
        "AS DOUBLE) AS bucket_start, count(*) AS n FROM events "
        "WHERE event_id % 2 = {p} GROUP BY 1"
    )
    out["streaming_ks_drift"] = oracles.ks_binned_sql(
        _ks_hist.format(p=0), _ks_hist.format(p=1)
    )
    # spectral audio planted truth: the clip is a function of
    # (doc_id//4) % 256 alone (wav_spectral_test_clip docstring), all
    # 256 classes pairwise-distinct (min cross-class hamming 11,
    # tests/test_phash.py) and power-of-2 gain variants bit-identical,
    # so hamming-0 pairs == same-class pairs exactly
    out["audio_spectral_dups"] = (
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(0 AS INT) AS hamming "
        "FROM documents a JOIN documents b "
        "ON (a.doc_id // 4) % 256 = (b.doc_id // 4) % 256 "
        "AND a.doc_id < b.doc_id"
    )
    return out
