"""Composed end-to-end programs — the reference's ``hadoop jar`` entry
points as single callables.

A user of the reference runs ONE command per pipeline; these functions
are the engine's equivalents, file-in/file-out:

- ``run_pagerank``      = ``hadoop jar pagerank.jar com.asgn3.PageRank
  <input> <output>`` (PageRank.java:53-327): text lines -> line count
  -> wiki parse -> 10 damped iterations -> descending sort -> ``url
  \\t rank`` text output.
- ``tfidf_search_rank`` = the jar's chained ``org.myorg.TFIDF`` ->
  ``Search`` -> ``Rank`` mains (TFIDF.class main @0-25, Search.class
  run() @24-29, Rank.class @76-83): one document per input FILE, tf-idf
  scoring, query-term filter, descending score output.

Where the reference launches 13 MapReduce jobs with HDFS round-trips
between them (SURVEY.md §3), each program here is one driver function:
a single lazy lineage per phase, intermediates in memory, shuffles only
where groupBy/join/orderBy require them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark.functions.wiki import parse_pages
from pagerank_mapreduce_implementation_spark.operators import graph, text
from pagerank_mapreduce_implementation_spark.sources.catalog import (
    read_text_lines,
    write_text_kv,
)


def _read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet table, or None when the path does not exist yet —
    the first-batch case for an incremental store. Only PATH_NOT_FOUND
    style analysis errors are swallowed; a corrupt store still raises.
    """
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force resolution so missing paths surface here
        return df
    except AnalysisException:
        return None


#: clean_corpus probes its signature store with incremental_minhash_dedup's
#: DEFAULT banding; the integrity check below must count against the same
#: constant or every intact store would look torn.
_STORE_BANDS = 4


def _validated_band_index(
    spark: SparkSession,
    signature_store: str,
    store_sigs: DataFrame,
    store_bands: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """Return ``(sigs, bands)`` PROVEN consistent — a signature table
    with one row per doc and a band index that covers it exactly —
    healing what can be healed and failing loudly on corruption: the
    integrity gate in front of every store probe.

    The store commit is two parquet appends (``sigs`` then ``bands``);
    a failure between them — or a partially-committed append — leaves
    signed docs invisible to the band-index probe, which would SILENTLY
    pass their future duplicates through (round-7 advice: the one
    latent correctness hazard). Rather than trusting a commit marker,
    every probe first checks the derived invariant: each sigs doc has
    exactly ``_STORE_BANDS`` index rows and the index has no docs the
    sigs lack (one full join over doc_ids — doc-count-sized, far
    cheaper than the probe it protects). On ANY violation the index is
    rebuilt from the signatures (the source of truth; bands are pure
    derivation), the ``bands`` dir is overwritten with the repair, and
    the rebuilt index is used — loud in the logs, correct in the
    result, and the store is healed for the next batch.

    DUPLICATED doc_ids in the sigs themselves (a retried/duplicated
    append) are checked FIRST (round-8 advice): a rebuilt index would
    carry ``2 x _STORE_BANDS`` rows per such doc, so the torn check
    would re-flag and rewrite the bands dir on EVERY batch — a
    perpetual repair loop masking the real store problem. Identical
    duplicate rows are healed by rewriting a distinct sigs table (and
    rebuilding bands against it); CONFLICTING signatures for one
    doc_id are corruption and raise, naming the docs.
    """
    from pagerank_mapreduce_implementation_spark.operators import dedup

    dup_ids = [
        r["doc_id"]
        for r in store_sigs.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    ]
    if dup_ids:
        distinct_sigs = store_sigs.distinct()
        conflicts = [
            r["doc_id"]
            for r in distinct_sigs.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(5)
            .collect()
        ]
        if conflicts:
            raise ValueError(
                f"signature store {signature_store!r} holds CONFLICTING "
                f"signatures for doc_ids {conflicts} (first 5): the same "
                "doc was appended with different signature rows — "
                "refusing to guess which is authoritative; rebuild the "
                "store from the corpus."
            )
        import warnings

        warnings.warn(
            f"signature store {signature_store!r}: doc_ids {dup_ids} "
            "(first 5) appear more than once in sigs (retried or "
            "duplicated append); deduplicating and rewriting the "
            "signature table",
            stacklevel=3,
        )
        # materialize before overwriting the dir being read from
        healed = distinct_sigs.localCheckpoint(eager=True)
        healed.write.mode("overwrite").parquet(f"{signature_store}/sigs")
        store_sigs = spark.read.parquet(f"{signature_store}/sigs")
        store_bands = None  # stale by construction: rebuild below

    if store_bands is not None:
        per_doc = store_bands.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("__nb")
        )
        torn = (
            store_sigs.select("doc_id")
            .withColumn("__sig", F.lit(1))
            .join(per_doc, "doc_id", "full")
            .filter(
                F.col("__sig").isNull()
                | F.col("__nb").isNull()
                | (F.col("__nb") != _STORE_BANDS)
            )
            .limit(1)
            .count()
        )
        if torn == 0:
            return store_sigs, store_bands
        import warnings

        warnings.warn(
            f"signature store {signature_store!r}: band index does not "
            "cover the signature table (torn commit or partial append); "
            "rebuilding the index from the signatures",
            stacklevel=3,
        )
    rebuilt = dedup.band_buckets(store_sigs, bands=_STORE_BANDS)
    rebuilt.write.mode("overwrite").parquet(f"{signature_store}/bands")
    return store_sigs, spark.read.parquet(f"{signature_store}/bands")


def run_pagerank(
    spark: SparkSession,
    input_path: str,
    output_path: str,
) -> DataFrame:
    """The reference's main pipeline, end to end (PageRank.java:53-327).

    1. count ALL non-empty lines — junk included, the seed denominator
       (count job, PageRank.java:339-366; seed 1/numOfLines :378)
    2. parse pages -> link graph (linkGraphJob, :371-416)
    3. 10 damped non-normalized iterations, red links dropped
       (pageRankComputeJob x10, :190-244)
    4. global descending sort, ties in url order, written as
       ``url \\t rank`` text (pageRankSortJob, :252-306)

    Returns the sorted rank DataFrame (also written to
    ``output_path``). Where the reference sorts in one reducer (one
    part file), the output here is range-partitioned part files, which
    concatenate in global order.
    """
    lines = read_text_lines(spark, input_path)
    # O5 count-all: the reference tests the RAW line for emptiness (no
    # trim, PageRank.java:346-348).
    n_lines = lines.filter(F.col("line") != "").count()
    if n_lines == 0:
        empty = spark.createDataFrame([], "url string, rank double")
        write_text_kv(empty, output_path, "url", "rank")
        return empty

    # parse once, feed both the edge and the vertex branch
    pages = parse_pages(lines).persist()
    try:
        edges = graph.edges_from_pages(pages)
        ranks = graph.pagerank(
            edges,
            n_iters=10,
            mode="reference",
            vertices=pages.select("url"),
            seed_count=n_lines,
        )
    finally:
        pages.unpersist()
    out = graph.rank_descending(ranks)
    write_text_kv(out, output_path, "url", "rank")
    return out


def tfidf_search_rank(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    terms: list[str],
) -> DataFrame:
    """The jar's document pipeline, end to end: ``TermFrequency`` ->
    ``TFIDF`` -> ``Search <terms>`` -> ``Rank``.

    One document per input FILE (the jar keys tokens by the input
    split's file name, DocWordCount$Map.class @59-98, and sets
    ``totalDocuments`` to the input file count, TFIDF.class run()
    @37-55). The tokenizer is the jar's exact ``\\s*\\b\\s*``
    word-boundary split (WordCount$Map.class @11) — punctuation runs
    survive as tokens, unlike the engine's whitespace default.

    Writes ``doc \\t score`` descending to ``output_path`` and returns
    the DataFrame. The four jobs' text-file round-trips collapse into
    one lazy lineage.
    """
    lines = spark.read.text(input_path).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("doc_id"),
        F.col("value").alias("text"),
    )
    # totalDocuments = input file count (TFIDF.class run() @37-55),
    # from the scan's FILE LISTING (driver-side metadata, no job) —
    # not from distinct doc_ids with rows: a zero-line file produces
    # no rows but the jar still counts it, and total_docs enters every
    # IDF denominator, so the two must count identically.
    total_docs = len(lines.inputFiles())
    scored = text.search_ranked(
        lines, terms, total_docs=total_docs, pattern=text.TOKEN_BOUNDARY_RE
    )
    write_text_kv(scored, output_path, "doc_id", "score")
    return scored


def clean_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lang: str | None = None,
    min_quality: float = 0.0,
    max_repetition: float | None = None,
    max_nll: float | None = None,
    bench_docs: DataFrame | None = None,
    near_dup_threshold: float = 0.5,
    ngram: int = 5,
    contamination_ngram: int = 8,
    contamination_threshold: float = 0.01,
    sample_scale: float | None = None,
    signature_store: str | None = None,
    substring_k: int | None = None,
    substring_min_len: int = 20,
    gopher: bool = False,
    gopher_rep: bool = False,
    c4: bool = False,
    encoding_gate: bool = False,
    blocklist: list | None = None,
    intra_line_dedup: bool = False,
    line_dedup: bool = False,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    semantic_cells: int = 16,
    semantic_iters: int = 2,
    min_char_entropy: float | None = None,
    max_char_entropy: float | None = None,
    source_top_frac: float | None = None,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    unimax_budget: float | None = None,
    unimax_epoch_cap: float = 1.0,
    mad_cutoff: float | None = None,
    min_flesch: float | None = None,
    max_oov_ratio: float | None = None,
    oov_top_k: int = 1000,
    zipf_bands: dict | None = None,
    survivor_policy: str = "min_id",
    normalize: "bool | str" = False,
) -> DataFrame:
    """Composed training-data cleaning pipeline, parquet-in ->
    parquet-out (the extension-surface analog of ``run_pagerank``; no
    reference twin — the reference has no data-hygiene stage at all):

    0. Unicode normalization (textstats.normalize_text) when
       ``normalize`` is truthy (pass a form string — "NFKC" — to
       override the NFC default): the text every later stage sees is
       canonicalized FIRST, so byte-keyed fingerprints/signatures
       can't be split by composed-vs-decomposed accents, zero-width
       chars, or whitespace runs. Full row rides the pass (zero
       joins); derived columns like ``n_chars`` are not recomputed
    1. language filter (textstats.lang_id heuristic) when ``lang`` set
    1b. Gopher rule battery (textstats.gopher_rules, Rae et al. 2021)
       when ``gopher`` is truthy — drops docs failing the published
       word-count / word-length / symbol / bullet / ellipsis / alpha /
       stopword bounds in one zero-shuffle pass
    0b. encoding-health gate (textstats.encoding_qa) when
       ``encoding_gate`` is truthy — drops docs carrying U+FFFD
       replacement chars, C0 controls, UTF-8-as-Latin-1 mojibake
       digraphs, or a sub-threshold ascii ratio in one zero-shuffle
       pass BEFORE any tokenizer-dependent stage sees the bytes
    1c. C4 heuristics (textstats.c4_rules, Raffel et al. 2020) when
       ``c4`` is truthy — pages failing the C4 verdict drop AND kept
       pages are REWRITTEN to their surviving lines (terminal-punct /
       min-words / javascript line rules), so every later stage sees
       the cleaned text
    1d. blocklist policy filter (textstats.blocklist_hits, the C4
       bad-words stage) when ``blocklist`` is set — a word LIST flags
       any doc whose round(6) token hit-ratio exceeds 0 (exact
       whole-token matching, lowercased). Runs after the C4 line
       rewrite so the policy sees the text that will actually survive
    2. quality floor (textstats.quality_scores composite)
    3. repetition cap (textstats.repetition_ratio) when
       ``max_repetition`` set — drops boilerplate/generated spam
    3a2. Gopher REPETITION battery (textstats.gopher_repetition,
       Rae et al. 2021 Table A1) when ``gopher_rep`` is truthy —
       drops docs failing the published dup-line / top-gram /
       dup-gram caps in one zero-shuffle pass (the within-doc
       repetition rules; ``max_repetition`` stays as the single-knob
       alternative)
    3b. unigram-LM surprisal cap (textstats.lm_scores) when ``max_nll``
       set — drops off-distribution outliers the stopword/length
       heuristics miss (the perplexity-style filter; scored against the
       INPUT corpus' own unigram distribution, before any filtering, so
       the threshold means the same thing run over run)
    3c. character-entropy band (textstats.entropy_stats) when
       ``min_char_entropy`` / ``max_char_entropy`` set — drops the
       compressibility extremes (repeated-char junk at the low end,
       binary-ish noise at the high end) in one zero-shuffle pass
    3c2. per-source MAD outlier drop (textstats.mad_outliers,
       ``side="low"``) when ``mad_cutoff`` set — the Hampel filter on
       the quality composite: docs whose quality sits more than
       ``mad_cutoff``·MAD BELOW their source's median drop; robust
       where a global floor (``min_quality``) cannot adapt to
       per-source score distributions, and median/MAD hold still
       under the very contamination being removed
    3c3. readability floor (textstats.readability_scores, Flesch 1948)
       when ``min_flesch`` set — drops docs whose Flesch reading ease
       falls below it, the complexity extreme the length/punct
       composite cannot see, zero-shuffle; wordless docs fail it
    3c4. out-of-vocabulary cap (textstats.oov_stats) when
       ``max_oov_ratio`` set — drops docs whose fraction of tokens
       outside the surviving corpus' own ``oov_top_k`` head
       vocabulary exceeds the cap (gibberish / code-in-prose /
       wrong-language spikes)
    3c5. WHOLE-SOURCE Zipf health gate (textstats.zipf_fit) when
       ``zipf_bands`` set — drops every doc of a ``source`` group
       whose rank-frequency curve over the surviving corpus fails the
       bands (dict keys: ``min_slope``/``max_slope``/``min_r2``/
       ``min_hapax``/``max_hapax``, plus ``top_k`` for the fit head).
       The one SOURCE-level stage: template farms and synthetic dumps
       flunk as a whole source, which no per-doc rule sees; a source
       too degenerate to fit a line (NULL slope) fails any slope/r2
       band. One word-count shuffle + a groups-sized left_semi
    3d. PROPORTIONAL per-source quota (sampling.top_fraction_per_group)
       when ``source_top_frac`` set — keeps the best
       ceil(frac·group_size) docs of EVERY ``source`` group by the
       quality_scores composite, scaling with the source where an
       absolute k would not; one group-key shuffle, deterministic cut
    4. benchmark decontamination (contamination.decontaminate) when
       ``bench_docs`` is supplied — drops docs overlapping the eval set
    4a'. WITHIN-doc repeated-line removal (dedup.intra_doc_line_dedup,
       the RefinedWeb intra-document pass) when ``intra_line_dedup``
       is truthy — zero-shuffle, runs before the corpus-global pass
       (a page's own chorus lines vanish without spending corpus-wide
       key cardinality on them)
    4b. corpus-wide repeated-LINE removal (dedup.line_dedup, the
       CCNet keep-first boilerplate pass) when ``line_dedup`` is
       truthy — runs BEFORE document-level dedup so fingerprints and
       signatures describe content, not shared nav-bars/banners. Docs
       losing no lines pass through byte-identical
    5. exact dedup — drop non-keepers by content fingerprint
    5a. exact-substring STRIP (dedup.strip_substring_runs, Lee et al.
       2022's removal step) when ``substring_k`` is set: verbatim
       token runs of >= ``substring_min_len`` shared between doc pairs
       are cut out of the higher-id doc, so exactly one copy of any
       boilerplate passage survives — document-granularity dedup
       (stages 5/5b/6) cannot see these. Runs BEFORE the signature
       stages so near-dup signatures (and the persisted store) are
       computed over the stripped text. WHITESPACE CONTRACT (round-8
       verdict item 6): a doc with NO stripped span passes through
       BYTE-identical — tabs, double spaces and all; a doc that lost
       a span is rebuilt by single-space-joining its surviving tokens
       (run positions are token indices, so its original inter-token
       whitespace is not recoverable — the normalization every public
       implementation of the paper applies).
    5b. CROSS-BATCH near-dup dedup against a persisted MinHash
       SIGNATURE store when ``signature_store`` is set (the round-trip
       that makes ``dedup.incremental_minhash_dedup`` a production
       pipeline stage, round-5 verdict item 7): docs whose signature
       estimate clears ``near_dup_threshold`` against ANY prior
       batch's kept signature are dropped; after the batch's survivors
       are written, their signatures (``{store}/sigs``: doc_id +
       num_hashes longs) AND band index (``{store}/bands``: doc_id,
       band, bucket) are APPENDED, so batch N+1 probes batch N's
       store. First run against an empty/missing store skips the probe
       and just seeds it. The store is signatures-only by design — no
       shingles, bounded bytes/doc — and the probe reads the persisted
       band index rather than re-banding the store each batch. There
       is deliberately NO separate exact-fingerprint store: an exact
       cross-batch duplicate has an IDENTICAL signature (estimate =
       num_hashes/num_hashes = 1.0 >= any threshold), so the
       signature store already catches it — a second store would add
       a commit surface without adding recall
       (``dedup.incremental_exact_dedup`` remains available for
       pipelines that want fingerprint-only semantics).
    6. near-dup CLUSTER dedup — MinHash+LSH pairs -> connected
       components -> one survivor per cluster. ``survivor_policy``:
       ``"min_id"`` (default, keep-first) or ``"quality"`` — keep the
       member with the highest quality_scores composite, ties to the
       smallest doc_id (the ``dedup.cluster_survivors`` policy: a
       near-dup cluster mixes clean originals with boilerplate-wrapped
       mirrors, and survivor choice is where that quality is won)
    6b. SEMANTIC dedup (dedup.semdedup, Abbas et al. 2023) when an
       ``embeddings`` frame is supplied (ids in ``vec_id`` naming
       ``doc_id``) — k-means-cluster-bounded cosine pairs over the
       SURVIVORS' embeddings (restricted first, so already-dropped
       docs can't evict a live one), victims by the paper's
       ``centroid_far`` rule. Catches
       paraphrase-level redundancy no lexical stage sees
    7. deterministic importance downsampling (sampling.weighted_sample,
       weight = byte length, p = min(1, bytes/sample_scale)) when
       ``sample_scale`` set — the token-budget shaping pass; stable
       under re-runs and appends like every other stage
    7b. DSIR target-aware selection (sampling.dsir_select, Xie et al.
       2023) when ``dsir_target`` (a docs frame exemplifying the
       desired distribution) and ``dsir_k`` are BOTH set — keeps the
       ``dsir_k`` survivors Gumbel-top-k-sampled ∝ hashed-n-gram
       importance weight toward the target; runs LAST so the budget
       applies to already-clean data. Deterministic like stage 7 (the
       md5-uniform coin drives the Gumbel noise)
    7c. UniMax mixture shaping (sampling.unimax_mix, Chung et al.
       2023) when ``unimax_budget`` set — the epoch-capped waterfall
       allocates the token budget across sources (ascending by size,
       each takes min(``unimax_epoch_cap`` epochs, fair share of the
       remainder)) and subsamples each source to its budget with the
       shared md5 coin; runs after DSIR so the recipe applies to the
       final clean pool
    8. survivors written to ``output_path`` (parquet, overwrite)

    Returns the surviving docs read back from ``output_path``.
    The cluster label propagation runs at most ``connected_components``'
    default 20 rounds (raised loudly on non-convergence).
    Each stage is lazy;
    the only materializations are the two dedup passes' internal
    checkpoints. At 100 TB every stage is a narrow transform or a
    bucketed/anti/broadcast join — nothing quadratic, nothing
    driver-side; the cheap narrow filters run FIRST so the join-heavy
    dedup stages see the smallest possible corpus.
    """
    from pagerank_mapreduce_implementation_spark.operators import dedup, textstats
    from pagerank_mapreduce_implementation_spark.operators.contamination import (
        decontaminate,
    )
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )
    from pagerank_mapreduce_implementation_spark.util import (
        persistent_rdd_ids,
        release_persistent_rdds_since,
    )

    # the dedup stages pin eager localCheckpoints (their return values)
    # that DataFrame.unpersist can never free (round-5 advice); since
    # everything this program hands back is parquet-backed, release
    # every RDD the pipeline pinned once the writes land
    rdds_before = persistent_rdd_ids(spark)
    try:
        if survivor_policy not in ("min_id", "quality"):
            raise ValueError(
                f"survivor_policy must be 'min_id' or 'quality', got "
                f"{survivor_policy!r}"
            )
        if (dsir_target is None) != (dsir_k is None):
            raise ValueError(
                "dsir_target and dsir_k must be set together — a target "
                "with no budget (or a budget with no target) has no "
                "defined selection"
            )
        docs = spark.read.parquet(input_path)
        if normalize:
            form = normalize if isinstance(normalize, str) else "NFC"
            carry = [c for c in docs.columns if c not in ("doc_id", "text")]
            docs = textstats.normalize_text(
                docs, form=form, keep_cols=tuple(carry)
            ).select("doc_id", F.col("clean_text").alias("text"), *carry)
        # Stages 1-3 score PER-ROW features; keep_cols rides the full row
        # through each scoring pass so the verdict never needs a
        # corpus-vs-corpus doc_id join back (three joins saved — at 100 TB
        # those were the most expensive non-dedup steps in the program)
        passthru = tuple(c for c in docs.columns if c != "doc_id")
        if encoding_gate:
            # stage 0b: encoding-health gate — zero-shuffle, BEFORE any
            # tokenizer-dependent stage sees the bytes
            docs = (
                textstats.encoding_qa(docs, keep_cols=passthru, flag_only=True)
                .filter(~F.col("flagged"))
                .select("doc_id", *passthru)
            )
        if lang is not None:
            docs = (
                textstats.lang_id(docs, keep_cols=passthru)
                .filter(F.col("pred_lang") == lang)
                .select("doc_id", *passthru)
            )
        if gopher:
            docs = (
                textstats.gopher_rules(docs, keep_cols=passthru)
                .filter(F.col("keep"))
                .select("doc_id", *passthru)
            )
        if c4:
            docs = (
                textstats.c4_rules(docs, keep_cols=passthru)
                .filter(F.col("keep") == 1)
                .select(
                    "doc_id",
                    *[
                        F.col("clean_text").alias(c) if c == "text" else F.col(c)
                        for c in passthru
                    ],
                )
            )
        if blocklist is not None:
            # stage 1d: wordlist policy drop — zero-shuffle, after the C4
            # rewrite so the policy sees the surviving text
            docs = (
                textstats.blocklist_hits(
                    docs, list(blocklist), keep_cols=passthru, flag_only=True
                )
                .filter(~F.col("flagged"))
                .select("doc_id", *passthru)
            )
        if min_quality > 0.0:
            docs = (
                textstats.quality_scores(docs, keep_cols=passthru, score_only=True)
                .filter(F.col("quality") >= min_quality)
                .select("doc_id", *passthru)
            )
        if max_repetition is not None:
            docs = (
                textstats.repetition_ratio(docs, keep_cols=passthru)
                .filter(F.col("repetition_ratio") <= max_repetition)
                .select("doc_id", *passthru)
            )
        if gopher_rep:
            docs = (
                textstats.gopher_repetition(docs, keep_cols=passthru)
                .filter(F.col("keep") == 1)
                .select("doc_id", *passthru)
            )
        if max_nll is not None:
            nll = textstats.lm_scores(spark.read.parquet(input_path)).select(
                "doc_id", "nll"
            )
            docs = docs.join(nll, "doc_id").filter(F.col("nll") <= max_nll).drop("nll")
        if min_char_entropy is not None or max_char_entropy is not None:
            # stage 3c: compressibility band — zero-shuffle per-row fold
            ent = textstats.entropy_stats(docs, keep_cols=passthru)
            if min_char_entropy is not None:
                ent = ent.filter(F.col("char_entropy") >= min_char_entropy)
            if max_char_entropy is not None:
                ent = ent.filter(F.col("char_entropy") <= max_char_entropy)
            docs = ent.select("doc_id", *passthru)
        if mad_cutoff is not None:
            # stage 3c2: per-source low-side MAD outlier drop on the
            # quality composite — two source-keyed median aggs + broadcast
            # flag joins (exact medians; at few-huge-sources scale the
            # operator docstring's percentile_approx swap keeps the shape)
            if "source" not in docs.columns:
                raise ValueError(
                    "mad_cutoff needs a 'source' column in the corpus "
                    f"(have: {docs.columns})"
                )
            scored = textstats.quality_scores(
                docs, keep_cols=passthru, score_only=True
            )
            flagged = textstats.mad_outliers(scored, cutoff=mad_cutoff, side="low")
            keep_ids = flagged.filter(~F.col("is_outlier")).select("doc_id")
            docs = docs.join(keep_ids, "doc_id", "left_semi")
        if min_flesch is not None:
            # stage 3c3: readability floor (textstats.readability_scores)
            # — zero-shuffle per-row regexp counts; docs with no words
            # score NULL and fail it (no prose, no grade)
            docs = (
                textstats.readability_scores(docs, keep_cols=passthru)
                .filter(F.col("flesch_reading_ease") >= min_flesch)
                .select("doc_id", *passthru)
            )
        if max_oov_ratio is not None:
            # stage 3c4: out-of-vocabulary cap (textstats.oov_stats) — the
            # head vocabulary comes from the CURRENT surviving corpus; one
            # corpus shuffle + broadcast vocab join, then the id-list
            # left_semi (the mad_cutoff shape)
            keep_ids = (
                textstats.oov_stats(docs, top_k=oov_top_k)
                .filter(F.col("oov_ratio") <= max_oov_ratio)
                .select("doc_id")
            )
            docs = docs.join(keep_ids, "doc_id", "left_semi")
        if zipf_bands:
            # stage 3c5: whole-source Zipf health gate (textstats.zipf_fit)
            # — the one SOURCE-level drop: template farms / synthetic dumps
            # flunk as a whole source. One word-count shuffle over the
            # surviving corpus + a groups-sized left_semi back.
            allowed = {
                "min_slope", "max_slope", "min_r2",
                "min_hapax", "max_hapax", "top_k",
            }
            unknown = set(zipf_bands) - allowed
            if unknown:
                raise ValueError(
                    f"zipf_bands: unknown keys {sorted(unknown)} "
                    f"(allowed: {sorted(allowed)})"
                )
            if "source" not in docs.columns:
                raise ValueError(
                    "zipf_bands needs a 'source' column in the corpus "
                    f"(have: {docs.columns})"
                )
            zf = textstats.zipf_fit(docs, top_k=zipf_bands.get("top_k", 100))
            # NULL slope/r2 (a source too degenerate to fit) fails any
            # slope/r2 band — SQL NULL comparison semantics, deliberate
            import operator as _op

            for key, col, cmp in (
                ("min_slope", "zipf_slope", _op.ge),
                ("max_slope", "zipf_slope", _op.le),
                ("min_r2", "zipf_r2", _op.ge),
                ("min_hapax", "hapax_ratio", _op.ge),
                ("max_hapax", "hapax_ratio", _op.le),
            ):
                if key in zipf_bands:
                    # native Column comparison (not SQL-string interp):
                    # keeps NULL-fails semantics and survives inf/nan
                    zf = zf.filter(cmp(F.col(col), F.lit(float(zipf_bands[key]))))
            docs = docs.join(zf.select("source"), "source", "left_semi")
        if source_top_frac is not None:
            # stage 3d: proportional per-source quota on the composite
            # quality score — one group-key shuffle, no join back
            from pagerank_mapreduce_implementation_spark.operators.sampling import (
                top_fraction_per_group,
            )

            if "source" not in docs.columns:
                raise ValueError(
                    "source_top_frac needs a 'source' column in the corpus "
                    f"(have: {docs.columns})"
                )
            scored = textstats.quality_scores(
                docs, keep_cols=passthru, score_only=True
            )
            docs = top_fraction_per_group(
                scored, source_top_frac, "quality", "source"
            ).select("doc_id", *passthru)
        if bench_docs is not None:
            docs = decontaminate(
                docs,
                bench_docs,
                ngram=contamination_ngram,
                threshold=contamination_threshold,
            )

        if intra_line_dedup:
            docs = dedup.intra_doc_line_dedup(docs).drop("n_dropped_lines")

        if line_dedup:
            docs = dedup.line_dedup(docs).drop("n_dropped_lines")

        exact = dedup.exact_dedup(docs).filter(F.col("is_dup") == 0).select("doc_id")
        docs = docs.join(exact, "doc_id", "left_semi")

        if substring_k is not None:
            # stage 5a: cut shared verbatim passages out of the higher-id
            # doc BEFORE the signature stages, so the minhash signatures
            # (and the persisted store) describe the stripped text
            docs = dedup.strip_substring_runs(
                docs,
                k=substring_k,
                min_len=substring_min_len,
            ).drop("n_stripped")

        if signature_store is not None:
            store_sigs = _read_parquet_or_none(spark, f"{signature_store}/sigs")
            if store_sigs is not None:
                store_sigs, store_bands = _validated_band_index(
                    spark,
                    signature_store,
                    store_sigs,
                    _read_parquet_or_none(spark, f"{signature_store}/bands"),
                )
                probe = dedup.incremental_minhash_dedup(
                    docs,
                    store_sigs,
                    threshold=near_dup_threshold,
                    ngram=ngram,
                    seen_bands=store_bands,
                )
                # within-batch handling stays with the exact-verify cluster
                # stage below; here only the cross-batch verdict applies
                store_dups = probe.filter(F.col("dup_of_store") == 1).select("doc_id")
                docs = docs.join(store_dups, "doc_id", "left_anti")

        pairs = dedup.minhash_near_dups(
            docs, threshold=near_dup_threshold, ngram=ngram
        ).select("doc_a", "doc_b")
        comps = connected_components(pairs, "doc_a", "doc_b")
        # every clustered doc except its component's keeper is dropped;
        # docs in no cluster survive untouched
        if survivor_policy == "quality":
            # the cluster_survivors policy, via the ONE shared argmax
            # definition (dedup.cluster_winners)
            member_q = comps.select(
                F.col("vertex").alias("doc_id"),
                F.col("component").alias("cluster_id"),
            ).join(textstats.quality_scores(docs, score_only=True), "doc_id")
            winners = dedup.cluster_winners(member_q)
            drop = (
                member_q.join(winners, "cluster_id")
                .filter(F.col("doc_id") != F.col("__keeper"))
                .select("doc_id")
            )
        else:
            drop = comps.filter(F.col("vertex") != F.col("component")).select(
                F.col("vertex").alias("doc_id")
            )
        survivors = docs.join(drop, "doc_id", "left_anti")
        if embeddings is not None:
            emb_live = embeddings.join(
                survivors.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            )
            survivors = dedup.semdedup(
                survivors,
                emb_live,
                n_cells=semantic_cells,
                threshold=semantic_threshold,
                n_iters=semantic_iters,
                keep_rule="centroid_far",
            )
        if sample_scale is not None:
            from pagerank_mapreduce_implementation_spark.operators.sampling import (
                weighted_sample,
            )

            survivors = weighted_sample(
                survivors.withColumn("__w", F.octet_length("text")),
                "__w",
                sample_scale,
                "doc_id",
            ).drop("__w")
        if dsir_target is not None:
            # stage 7b: target-aware DSIR budget — the selected-id set is
            # k rows, a left_semi join back keeps the survivors' schema.
            # The stage consumes survivors twice (gram counts + the join
            # back), so cut the lineage first — otherwise every upstream
            # filter stage re-runs per consumer; the caller's RDD-layer
            # release frees the checkpoint after the write lands.
            from pagerank_mapreduce_implementation_spark.operators.sampling import (
                dsir_select,
            )

            survivors = survivors.localCheckpoint(eager=True)
            chosen = dsir_select(
                survivors, dsir_target, k=dsir_k
            ).select("doc_id")
            survivors = survivors.join(chosen, "doc_id", "left_semi")
        if unimax_budget is not None:
            # stage 7c: UniMax mixture shaping — runs on the final clean
            # pool; one sources-sized agg collect + broadcast-join filter
            # (the mix_sources shape), corpus never shuffles
            from pagerank_mapreduce_implementation_spark.operators.sampling import (
                unimax_mix,
            )

            survivors = unimax_mix(
                survivors,
                total_budget=unimax_budget,
                epoch_cap=unimax_epoch_cap,
            )
        survivors.write.mode("overwrite").parquet(output_path)
        # hand back the WRITTEN table, not the lazy plan: a consumer action
        # on the plan would re-run lang-id + quality + both dedup passes —
        # a second full corpus pass at scale — instead of one footer read
        written = spark.read.parquet(output_path)
        if signature_store is not None:
            # append the batch survivors' signatures + band index, computed
            # from the WRITTEN table (one footer read, no pipeline re-run);
            # checkpoint so the signature aggregation runs once for both
            # writes (the caller's RDD-layer release frees it). The two
            # appends are NOT atomic together — sigs lands before bands, so
            # a failure between them leaves signed-but-unbanded docs. That
            # torn state is caught (and the index rebuilt from the sigs) by
            # _validated_band_index before the NEXT batch's probe, so it
            # can never silently pass a cross-batch duplicate.
            new_sigs = dedup.minhash_signatures(
                dedup.shingles(written, ngram)
            ).localCheckpoint(eager=True)
            new_sigs.write.mode("append").parquet(f"{signature_store}/sigs")
            dedup.band_buckets(new_sigs).write.mode("append").parquet(
                f"{signature_store}/bands"
            )
        return written
    finally:
        release_persistent_rdds_since(spark, rdds_before)


def pack_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    window: int = 64,
    stride: int = 48,
    tokenizer: str = "whitespace",
    layout: str = "windows",
    budget: int = 512,
    with_doc_spans: bool = False,
) -> DataFrame:
    """Turn a cleaned corpus into model-ready token rows, parquet-in ->
    parquet-out — the pack step that follows ``clean_corpus`` in a
    pretraining data recipe.

    ``layout="windows"`` (default): overlapping per-document token
    windows — survivors become ``(doc_id, chunk_id, chunk, n_tokens)``
    rows sized for a model's context window. A single narrow pass
    end-to-end (tokenize + window arithmetic + chunk-row explode, no
    shuffle): scan-speed at 100 TB.

    ``layout="bins"``: GPT-style PACKED sequences — every document's
    tokens concatenated in id order and cut into fixed ``budget``-token
    bins (``text.pack_bins``): ``(bin_id, n_tokens, n_docs, text)``
    rows, no padding waste, docs straddling boundaries. Costs the one
    inherent token-level shuffle (the output is a reordered copy of
    the corpus), with per-bin state bounded by ``budget``.
    ``with_doc_spans=True`` (bins layout only) additionally emits each
    bin's document boundary map (``doc_spans`` — "off:doc_id;…") for
    block-diagonal attention masks / position-id resets; doc ids ride
    only the one-per-(doc,bin) head tokens through that shuffle.

    ``tokenizer``: ``"whitespace"`` counts/windows whitespace words
    (pure codegen, zero Python); ``"bpe"`` uses SUBWORD pieces from the
    vendored deterministic BPE (functions/bpe.py) — the real training
    contract, since packs are sized in subword tokens; costs exactly
    one Arrow-batched Python pass for the piece arrays.

    Returns the written table (one footer read, same contract as
    clean_corpus).
    """
    from pagerank_mapreduce_implementation_spark.operators.text import (
        chunk_documents,
        chunk_documents_bpe,
        pack_bins,
    )

    if tokenizer not in ("whitespace", "bpe"):
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    if with_doc_spans and layout != "bins":
        raise ValueError(
            "with_doc_spans requires layout='bins' — window chunks are "
            "single-document by construction"
        )
    if layout == "windows":
        chunker = chunk_documents if tokenizer == "whitespace" else chunk_documents_bpe
        out = chunker(spark.read.parquet(input_path), window=window, stride=stride)
    elif layout == "bins":
        out = pack_bins(
            spark.read.parquet(input_path),
            budget=budget,
            tokenizer="ws" if tokenizer == "whitespace" else "bpe",
            with_doc_spans=with_doc_spans,
        )
    else:
        raise ValueError(f"unknown layout {layout!r}")
    out.write.mode("overwrite").parquet(output_path)
    return spark.read.parquet(output_path)


def dedup_media(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    modality: str = "image",
    max_hamming: int = 10,
    min_run: int | None = None,
    hasher=None,
    demuxer=None,
    fingerprint_store: str | None = None,
) -> DataFrame:
    """Media-corpus near-dup removal end to end (the modality twin of
    ``clean_corpus``'s dedup stages, wiring round-8/9's operators into
    a file-in/file-out program): read a ``(doc_id, content binary,
    ...)`` parquet corpus, pair near-duplicates with the modality's
    machinery —

    - ``modality="image"``: perceptual-hash banding (``max_hamming``;
      inject ``hasher=multimodal.ppm_dcthash`` for brightness-robust
      matching),
    - ``modality="audio"``: the gain-invariant energy-delta
      fingerprint (same ``max_hamming`` knob; ``wav_fingerprint``
      default, injectable for compressed formats),
    - ``modality="video"``: shared frame hashes (at least 2 per pair)
      or, when ``min_run`` is set, contiguous shared runs
      (trimmed-copy precision); every frame is hashed and no stop-frame
      cap applies (see video_near_dups for the knobs a 100 TB run sets),

    then cluster the pair graph with large/small-star connected
    components and keep each cluster's LOWEST doc_id (the keep-first
    rule every dedup stage here uses — transitively safe for chains
    a~b~c), write survivors to ``output_path``, and hand back the
    written table (one footer read; the pipeline's pinned
    checkpoints are released before returning).

    ``fingerprint_store`` makes the program INCREMENTAL across batches
    (the media analog of ``clean_corpus(signature_store=...)``): batch
    docs are first probed against ``{store}/fps`` — fingerprints only,
    never blobs: ``(doc_id, phash)`` for image/audio (8 bytes/doc,
    probed via the shared ``hamming_store_probe`` broadcast chunk
    index), ``(doc_id, frame_idx, fhash)`` for video (probed by
    shared-count, or by cross-batch RUNS when ``min_run`` is set —
    positions persist, so run semantics survive the batch boundary).
    Cross-batch duplicates are dropped, then the batch
    survivors' fingerprints are APPENDED for batch N+1. First run
    against a missing store just seeds it. Doc ids must be globally
    unique across batches (the clean_corpus store contract).

    Scale shape: ONE Arrow decode+hash pass total (persisted and
    reused by the store probe, the within-batch pairing, and the store
    append — video decode is the dominant cost, so this matters most
    there), banded/key-bounded candidate joins (never all-pairs), CC's
    diameter-independent rounds over the (tiny) pair graph, one
    anti-join against the corpus. Columns besides ``content`` ride
    through untouched.
    """
    from pagerank_mapreduce_implementation_spark.operators import multimodal
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        hamming_band_pairs,
        hamming_store_probe,
    )
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )
    from pagerank_mapreduce_implementation_spark.util import (
        persistent_rdd_ids,
        release_persistent_rdds_since,
    )

    if modality not in ("image", "audio", "video"):
        raise ValueError(
            f"unknown modality {modality!r}: expected image, audio, or video"
        )
    docs = spark.read.parquet(input_path)
    store = (
        _read_parquet_or_none(spark, f"{fingerprint_store}/fps")
        if fingerprint_store is not None
        else None
    )
    rdds_before = persistent_rdd_ids(spark)
    try:
        if modality == "video":
            fh = multimodal.video_frame_hashes(
                docs, demuxer=demuxer, hasher=hasher
            ).persist()
            fh_kept = fh
            if store is not None:
                # defensive distinct: a retried append duplicates rows
                # but never conflicts (fingerprints are derived), so
                # dedupe at probe time instead of a repair pass
                s = store.select(
                    F.col("doc_id").alias("store_id"), "frame_idx", "fhash"
                ).distinct()
                if min_run is not None:
                    hits = (
                        fh.select("doc_id", F.col("frame_idx").alias("ia"), "fhash")
                        .distinct()
                        .join(
                            s.select(
                                "store_id", F.col("frame_idx").alias("ib"), "fhash"
                            ),
                            "fhash",
                        )
                        .select("doc_id", "store_id", "ia", "ib")
                    )
                    matched = (
                        multimodal._island_runs(
                            hits, "doc_id", "store_id", min_run
                        )
                        .select("doc_id")
                        .distinct()
                    )
                else:
                    matched = (
                        fh.select("doc_id", "fhash")
                        .distinct()
                        .join(s.select("store_id", "fhash").distinct(), "fhash")
                        .groupBy("doc_id", "store_id")
                        .agg(F.count(F.lit(1)).alias("__n"))
                        .filter(F.col("__n") >= 2)
                        .select("doc_id")
                        .distinct()
                    )
                docs = docs.join(matched, "doc_id", "left_anti")
                fh_kept = fh.join(matched, "doc_id", "left_anti")
            if min_run is not None:
                pairs = multimodal.video_shared_runs(
                    None, min_run=min_run, frame_hashes=fh_kept
                )
            else:
                pairs = multimodal.video_near_dups(None, frame_hashes=fh_kept)
            fp = None
        else:
            h = hasher or (
                multimodal.wav_fingerprint if modality == "audio" else None
            )
            # phash_images is content-agnostic: (doc_id, fn(content)) —
            # the audio fingerprint rides the same Arrow pass
            fp = multimodal.phash_images(docs, h).persist()
            fp_kept = fp
            if store is not None:
                matched = hamming_store_probe(
                    fp,
                    store.select("doc_id", "phash").distinct(),
                    max_hamming,
                    multimodal.PHASH_BITS,
                ).select("doc_id")
                docs = docs.join(matched, "doc_id", "left_anti")
                fp_kept = fp.join(matched, "doc_id", "left_anti")
            pairs = hamming_band_pairs(
                fp_kept, "phash", max_hamming, multimodal.PHASH_BITS
            )
            fh = None
        comps = connected_components(
            pairs.select("doc_a", "doc_b"),
            "doc_a",
            "doc_b",
        )
        drop = comps.filter(F.col("vertex") != F.col("component")).select(
            F.col("vertex").alias("doc_id")
        )
        survivors = docs.join(drop, "doc_id", "left_anti")
        survivors.write.mode("overwrite").parquet(output_path)
        written = spark.read.parquet(output_path)
        if fingerprint_store is not None:
            ids = written.select("doc_id")
            if modality == "video":
                new_rows = fh.join(ids, "doc_id", "left_semi").select(
                    "doc_id", "frame_idx", "fhash"
                )
            else:
                new_rows = fp.join(ids, "doc_id", "left_semi")
            new_rows.write.mode("append").parquet(f"{fingerprint_store}/fps")
        return written
    finally:
        release_persistent_rdds_since(spark, rdds_before)


def build_training_shards(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    budget: int = 512,
    bins_per_shard: int = 64,
    shuffle_seed: str | None = None,
) -> DataFrame:
    """The corpus-to-trainer tail as ONE program: pack a cleaned corpus
    (``clean_corpus``' output) into ``budget``-token bins -> lay the
    bins out as contiguous SHARDS a data loader streams — parquet-in, a
    sharded parquet layout + manifest out. This is what the engine is
    FOR at 100 TB: everything upstream (dedup, filters, mixing) exists
    to feed this write.

    Stages:

    1. ``text.pack_bins``: GPT-style packed ``budget``-token bins
       (docs straddle boundaries, no padding waste), ``doc_spans``
       boundary maps on by default — a trainer without them cannot
       build block-diagonal attention over packed sequences.
    2. Shard assignment ``shard = bin_id div bins_per_shard`` —
       CONTIGUOUS bin ranges, not a hash: a loader reading shard k
       streams the bins in stream order, and skipping shards skips
       contiguous token ranges (resume/partition semantics fall out
       for free). One repartition on the shard key makes each shard
       exactly one parquet file under ``<out>/shards.parquet/shard=k/``
       (hive-partitioned, so a loader's shard filter prunes at the
       directory level before any footer is read). At 100 TB raise
       ``bins_per_shard`` so a shard is a sane object size (~1 GB)
       and swap the repartition for repartitionByRange on bin_id —
       the layout contract is unchanged.
    3. Manifest: ``(shard, n_bins, n_tokens, doc_segments)`` written
       beside the shards — the loader's index (epoch size, per-shard
       token budgets) without touching shard data. ``doc_segments``
       sums per-bin document segments; a straddling doc counts once
       per bin it touches (the attention-mask view of "document").

    ``shuffle_seed`` inserts the corpus SHUFFLE before packing
    (``sampling.training_order``): docs are renumbered by their seeded
    position — the position becomes the packing key, so the token
    stream (and hence every bin and shard) is laid out in reproducible
    shuffled order instead of doc_id order — and the
    (doc_id=position, source_doc_id) provenance map lands at
    ``<out>/doc_map.parquet``; ``doc_spans`` then reference positions,
    the map restores original ids. Cost: the one id-keyed self-join
    that attaches positions (the actual reorder rides the packing's
    inherent token shuffle, which this path was paying anyway).

    Returns the manifest read back from ``<out>/manifest.parquet``.
    """
    if bins_per_shard < 1:
        raise ValueError(f"bins_per_shard ({bins_per_shard}) must be >= 1")
    docs = spark.read.parquet(input_path)
    if shuffle_seed is not None:
        from pagerank_mapreduce_implementation_spark.operators import sampling

        pos = sampling.training_order(docs, seed=shuffle_seed)
        pos.select(
            F.col("position").alias("doc_id"),
            F.col("doc_id").alias("source_doc_id"),
        ).write.mode("overwrite").parquet(f"{output_path}/doc_map.parquet")
        docs = docs.join(pos, "doc_id").select(
            F.col("position").alias("doc_id"), "text"
        )
    bins = text.pack_bins(docs, budget=budget, with_doc_spans=True)
    sharded = bins.withColumn(
        "shard", F.expr(f"bin_id div {int(bins_per_shard)}").cast("int")
    )
    shards_path = f"{output_path}/shards.parquet"
    (
        sharded.repartition("shard")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(shards_path)
    )
    manifest = (
        spark.read.parquet(shards_path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_docs").cast("long").alias("doc_segments"),
        )
    )
    manifest_path = f"{output_path}/manifest.parquet"
    manifest.write.mode("overwrite").parquet(manifest_path)
    return spark.read.parquet(manifest_path)


def corpus_health(spark: SparkSession, input_path: str, output_path: str) -> DataFrame:
    """The observability pass a pipeline runs on every corpus DROP,
    before anything downstream trusts it — one program bundling the
    profiling/expectation/skew tools over a single input:

    - ``<out>/profile.parquet`` — per-column rows/nulls/distinct/
      min/max (``relational.profile_table`` with HLL distinct counts,
      the 100 TB posture).
    - ``<out>/expectations.parquet`` — named rule violations
      (``relational.validate_table``). The rules cover the documents
      contract when those columns exist: doc_id present, text
      non-empty, ``n_chars`` consistent with the text.
    - ``<out>/skew.parquet`` — the ``source`` heavy-key table (top
      20, ``relational.key_skew_report``), the pre-join/groupBy read.
    - ``<out>/length_hist.parquet`` — the ``n_chars`` distribution in
      100-char buckets (``relational.value_histogram``) when the
      column exists; NULL lengths get their own row.

    Each output is one scan-bounded pass; nothing here shuffles the
    corpus (profile/expectations are single aggregations, the skew
    report groups on its key). Returns the expectations table read
    back — the piece a caller gates on (``n_violations > 0`` pages
    someone).
    """
    from pagerank_mapreduce_implementation_spark.operators import relational

    docs = spark.read.parquet(input_path)
    rules = {}
    if "doc_id" in docs.columns:
        rules["doc_id_present"] = "doc_id IS NOT NULL"
    if "text" in docs.columns:
        rules["text_nonempty"] = "length(text) > 0"
    if "n_chars" in docs.columns and "text" in docs.columns:
        rules["n_chars_consistent"] = "n_chars = length(text)"
    if not rules:
        raise ValueError(
            "corpus_health: no default rules apply to this schema (it "
            "has none of doc_id, text, n_chars)"
        )
    relational.profile_table(docs, exact=False).write.mode("overwrite").parquet(
        f"{output_path}/profile.parquet"
    )
    relational.validate_table(docs, rules).write.mode("overwrite").parquet(
        f"{output_path}/expectations.parquet"
    )
    if "source" in docs.columns:
        relational.key_skew_report(docs, "source").write.mode(
            "overwrite"
        ).parquet(f"{output_path}/skew.parquet")
    if "n_chars" in docs.columns:
        relational.value_histogram(docs, "n_chars", bucket_width=100).write.mode(
            "overwrite"
        ).parquet(f"{output_path}/length_hist.parquet")
    return spark.read.parquet(f"{output_path}/expectations.parquet")


def cluster_report(
    spark: SparkSession,
    docs_path: str,
    emb_path: str,
    output_path: str,
    n_cells: int = 8,
    k_terms: int = 5,
    weighting: str = "count",
    exact: bool = False,
) -> DataFrame:
    """The labeled-cluster observability read after a semdedup /
    ivf_topk pass — one row per embedding cell:
    ``(cell_id, n, mean_cos, label)`` where ``n``/``mean_cos`` is the
    cell's member count and centroid-cosine compactness
    (``embeddings.group_compactness``: tight region vs. noise) and
    ``label`` is the top-``k_terms`` token summary
    (``embeddings.cluster_top_terms``; ``weighting="ctfidf"`` for the
    what-makes-this-cell-DIFFERENT ranking) joined as one
    space-separated string in rank order. This is what a human reads
    before trusting cluster-level decisions the dedup/mixing passes
    just made (which clusters did SemDeDup thin? is cell 3 actually a
    topic or an artifact?).

    Shape: Lloyd centroids are fit ONCE (bit-deterministic
    ``exact_mean`` folds) and shared by BOTH consumers — assignment is
    the broadcast-fold ``ivf_assign`` pass (no shuffle), compactness
    is one cell-keyed join + decimal-exact cosine agg, labeling is one
    (cell, word) count with a WindowGroupLimit top-k — so the program
    adds nothing over its stages but the n_cells-bounded report join.
    Writes ``<out>/cluster_report.parquet`` and returns it read back.
    """
    from pagerank_mapreduce_implementation_spark.operators import (
        embeddings as emb_ops,
    )
    from pagerank_mapreduce_implementation_spark.operators.similarity import (
        ivf_assign,
        lloyd_centroids,
    )

    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)
    cents = lloyd_centroids(emb, n_cells, 2, exact_mean=True)
    _, assign = ivf_assign(emb, n_cells, centroids=cents)
    compact = emb_ops.group_compactness(
        assign.select(
            "cell_id", "vec_id", F.col("vec").alias("embedding")
        ),
        group_col="cell_id",
        exact=exact,
    )
    terms = emb_ops.cluster_top_terms(
        docs,
        emb,
        n_cells=n_cells,
        k=k_terms,
        centroids=cents,
        weighting=weighting,
    )
    # rank-ordered label string: sort_array over (rn, word) structs
    # orders by rn first, so the join preserves the top-k ranking
    label = terms.groupBy("cell_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "word"))),
                lambda s: s["word"],
            ),
        ).alias("label")
    )
    report = (
        compact.join(label, "cell_id", "left")
        .select(
            "cell_id",
            "n",
            "mean_cos",
            # a cell whose members hold no tokens still reports
            F.coalesce("label", F.lit("")).alias("label"),
        )
    )
    report.write.mode("overwrite").parquet(
        f"{output_path}/cluster_report.parquet"
    )
    return spark.read.parquet(f"{output_path}/cluster_report.parquet")


def shard_audit(spark: SparkSession, shards_root: str) -> DataFrame:
    """Verify a ``build_training_shards`` output directory: recompute
    every shard's stats FROM THE SHARD DATA and diff them against the
    manifest — one row per shard id seen on either side:
    ``(shard, n_bins, n_bins_actual, n_tokens, n_tokens_actual,
    doc_segments, doc_segments_actual, ok)``. ``ok`` is true only when
    all three pairs match null-safely, so a manifest row without
    shard data, shard data without a manifest row, and any count
    drift all surface as ``ok = false`` rows — the consistency check
    a loader (or an on-call human) runs before trusting a shard drop
    that may have been partially overwritten.

    One scan of the hive-partitioned shard tree (directory-pruned
    columns only: the group key and two integer sums — bin text is
    never read) + the manifest read + a shard-count-bounded FULL
    OUTER join.
    """
    actual = (
        spark.read.parquet(f"{shards_root}/shards.parquet")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins_actual"),
            F.sum("n_tokens").cast("long").alias("n_tokens_actual"),
            F.sum("n_docs").cast("long").alias("doc_segments_actual"),
        )
    )
    manifest = spark.read.parquet(f"{shards_root}/manifest.parquet")
    joined = manifest.join(actual, "shard", "full_outer")
    ok = (
        F.col("n_bins").eqNullSafe(F.col("n_bins_actual"))
        & F.col("n_tokens").eqNullSafe(F.col("n_tokens_actual"))
        & F.col("doc_segments").eqNullSafe(F.col("doc_segments_actual"))
    )
    return joined.select(
        "shard",
        "n_bins",
        "n_bins_actual",
        "n_tokens",
        "n_tokens_actual",
        "doc_segments",
        "doc_segments_actual",
        ok.alias("ok"),
    )


def bucketed_revenue(
    spark: SparkSession,
    orders_path: str,
    lineitem_path: str,
    table_prefix: str | None = None,
) -> DataFrame:
    """The co-located fact-to-fact join, end to end: bucket-materialize
    ``orders`` and ``lineitem`` on the join key (``write_bucketed`` —
    parquet + bucket metadata in the session catalog), then run the
    recurring revenue rollup over the BUCKETED tables. With matching
    bucket counts on matching keys the join plans with ZERO exchanges
    of either fact table (asserted in tests/test_staged_ops3.py) — at
    100 TB this is the difference between shuffling both fact tables on
    every recurring join and zipping co-located bucket files; the
    bucketing cost is paid once at ingest.

    Managed-table names default to a per-PROCESS prefix so concurrent
    bench/driver runs never overwrite each other's bucket metadata in
    the shared warehouse; repeat invocations in one process reuse
    (mode=overwrite) the same tables.
    """
    import os

    from pagerank_mapreduce_implementation_spark.operators.relational import dsum
    from pagerank_mapreduce_implementation_spark.sources.catalog import (
        write_bucketed,
    )

    prefix = table_prefix or f"bkt_{os.getpid()}"
    orders = spark.read.parquet(orders_path).select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = spark.read.parquet(lineitem_path).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    t_orders, t_lineitem = f"{prefix}_orders", f"{prefix}_lineitem"
    write_bucketed(
        orders, t_orders, ["o_orderkey"], 16, sort_cols=["o_orderkey"]
    )
    write_bucketed(
        lineitem,
        t_lineitem,
        ["l_orderkey"],
        16,
        sort_cols=["l_orderkey"],
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        spark.table(t_lineitem)
        .join(
            spark.table(t_orders),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(disc_price).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
