"""Deduplication operators for large-scale training-data pipelines.

Extensions beyond the reference surface (SURVEY.md §7 step 6): exact
dedup, MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard
verification, and embedding-cosine near-dup (see similarity.py).

Everything is pure DataFrame column expressions — deterministic,
DuckDB-oracle-reproducible (hashes are md5-based: identical hex output
in Spark and DuckDB), and shuffle-frugal:

- exact: one groupBy on a 128-bit fingerprint.
- MinHash+LSH: shingle explode (narrow) → per-doc signature agg (one
  shuffle) → band buckets (narrow) → bucket self-join (shuffle on
  bucket key — the LSH point: only colliding docs meet) → Jaccard
  verification join over shingle sets restricted to candidates.
  At 100 TB: no all-pairs product ever materializes; the bucket join's
  fan-out is controlled by band/row tuning, and AQE splits skewed
  buckets (a stop-shingle bucket is the classic skew case).
- SimHash: token-hash bit-vote as ONE wide aggregation (60 sum columns
  in a single shuffle — not a x60 row explode, and not a Pandas UDF
  that would ship every token to Python) → 15-bit chunk bands
  (pigeonhole: hamming<=3 pairs share a chunk) → verified hamming
  distance.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIMHASH_BITS = 60  # 15 hex digits of md5 -> fits signed 64-bit exactly
# Hamming banding splits a fingerprint into this many equal chunks
# (pigeonhole: any pair within HAMMING_CHUNKS - 1 bits shares a chunk).
HAMMING_CHUNKS = 4


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapsed
    whitespace, trimmed."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def tokens_null_safe(col: Column) -> Column:
    """Whitespace token array with the library-wide NULL-text-as-empty
    convention: NULL coalesces to '' BEFORE the split, so consumers see
    an empty array (Spark's size(split(NULL)) is -1 and DuckDB sums
    skip NULLs — the cross-engine divergence this single home
    prevents). The tokenizer expression behind textstats.blocklist_hits
    (clean_corpus's blocklist stage); its SQL mirror
    (oracles.blocklist_hits_sql) spells it
    list_filter(regexp_split_to_array(coalesce(text, ''),
    '[[:space:]]+'), w -> w <> '')."""
    return F.filter(
        F.split(F.coalesce(col, F.lit("")), r"\s+"), lambda w: w != ""
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content fingerprint.

    Returns every doc with its group fingerprint, the group's keeper
    (min doc id — the row a dedup pass would retain) and an is_dup
    flag. One hash-groupBy shuffle; the window over fp reuses it.

    Skew bound: the window partitions ALL duplicates of one fingerprint
    into a single task, so the hottest fingerprint's duplicate count is
    the straggler bound — fine on real corpora (the hot key is
    boilerplate, still a small fraction of rows), pathological if
    billions of rows share one fingerprint.
    """
    from pyspark.sql.window import Window

    fp = F.md5(normalize_text(F.col("text"))).alias("fingerprint")
    base = docs.select("doc_id", fp)
    w = Window.partitionBy("fingerprint")
    return (
        base.withColumn("keeper", F.min("doc_id").over(w))
        .withColumn("is_dup", (F.col("doc_id") != F.col("keeper")).cast("int"))
    )


def incremental_exact_dedup(
    new_docs: DataFrame, seen_fingerprints: DataFrame
) -> DataFrame:
    """Incremental ingestion dedup: survivors of a NEW batch against an
    existing corpus fingerprint store (``seen_fingerprints``: one
    ``fingerprint`` column, the store a previous ``exact_dedup`` pass
    materialized).

    Two stages, both standard at 100 TB:
    1. in-batch: keep the min-doc_id row per fingerprint (same rule as
       exact_dedup) — one window over the batch, which is small
       relative to the corpus;
    2. cross-batch: anti-join the batch survivors against the seen
       store on fingerprint. The store is huge but the join is equi on
       the hash — at scale the store lives as a parquet table bucketed
       by fingerprint so the anti-join co-locates without a shuffle of
       the store.

    Returns the caller's schema plus ``fingerprint`` (append it to the
    store for the next batch). The corpus-wide pass stays
    ``exact_dedup``; this is the per-increment path that avoids
    re-reading the whole corpus every ingest.
    """
    from pyspark.sql.window import Window

    fp = F.md5(normalize_text(F.col("text"))).alias("fingerprint")
    w = Window.partitionBy("fingerprint")
    in_batch = (
        new_docs.select("*", fp)
        .withColumn("__keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keeper"))
        .drop("__keeper")
    )
    return in_batch.join(
        seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    )


def shingles(docs: DataFrame, n: int = 1, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: ``(doc_id, shingle)``.

    n=1 is word-set semantics; n>=2 are classic shingles. Narrow
    (explode) except the final distinct.
    """
    if n == 1:
        # post-explode filter keeps the hot path in codegen
        return (
            docs.select(
                "doc_id",
                F.explode(F.split(F.col(text_col), r"\s+")).alias("shingle"),
            )
            .filter(F.col("shingle") != "")
            .distinct()
        )
    # Materialize the token array as a named column FIRST: referencing
    # the filter(split(...)) expression from inside the transform lambda
    # re-evaluates it per window position (no CSE across higher-order
    # functions — measured 4x slower when inlined).
    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    toks = docs.select("doc_id", arr.alias("toks"))
    # slice is 1-based; sequence end is inclusive -> size-n+1 starts
    sh = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - n + 1),
            lambda i: F.array_join(F.slice("toks", i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def df_capped_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` from a
    ``(doc_id, shingle)`` shingle table — the stop-shingle skew cap for
    the exact-recall pair scorers.

    One groupBy(shingle) + one equi-join back, both on the shingle key
    (AQE handles residual skew in the count itself — a count is cheap
    even for the hottest key; it is the PAIR join downstream that a hot
    shingle makes quadratic, and that join only ever sees df <= max_df
    keys after this filter)."""
    if max_df < 1:
        raise ValueError(f"max_df ({max_df}) must be >= 1")
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("shingle")
    )
    return sh.join(keep, "shingle").select("doc_id", "shingle")


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# Signature width of every banded MinHash path: the band index of a
# store and the probe that reads it must agree on it.
NUM_HASHES = 16


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i, b_i), derived
    from md5 so the SQL oracle generator (same Python) embeds identical
    constants."""
    import hashlib

    def h28(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)

    return [
        (h28(f"a{i}") % (MINHASH_P - 1) + 1, h28(f"b{i}") % MINHASH_P)
        for i in range(num_hashes)
    ]


def minhash_signatures(sh: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """MinHash signature per doc via universal hashing over ONE md5
    base hash: h_i(s) = (a_i * base(s) + b_i) mod P, base = first 15
    md5 hex digits mod P. One shuffle; one hash evaluation per shingle
    (k salted md5s would cost k full hashes per shingle) and the
    signature mins aggregate 8-byte longs, not 32-char strings.
    a_i < 2^28, base < 2^31, so products stay far below 2^63 — the
    arithmetic is overflow-exact in both Spark and the SQL oracle.
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes ({num_hashes}) must be >= 1")
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast(
        "long"
    ) % F.lit(MINHASH_P)
    staged = sh.select("doc_id", base.alias("hb"))
    aggs = [
        F.min((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    ]
    return staged.groupBy("doc_id").agg(*aggs)


def rowwise_minhash_signatures(docs: DataFrame, ngram: int = 5) -> DataFrame:
    """The SAME MinHash signature as ``minhash_signatures`` computed as
    PURE per-row column expressions — no explode, no groupBy, no
    shuffle: shingle array -> base-hash array -> ``array_min`` per
    coefficient. ``min`` is duplicate-insensitive, so skipping the
    shingle DISTINCT changes nothing; docs with zero shingles emit no
    row (matching the shuffle path, where they produce no shingle rows
    to aggregate).

    Exists for the STREAMING probe (streaming_minhash_probe): a
    stateless signature makes cross-batch near-dup detection a
    stream-static broadcast join with ZERO streaming state — the
    batch path keeps the explode+groupBy form because map-side partial
    aggregation beats per-row array passes when the corpus is already
    being shuffled anyway.
    """
    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    toks = docs.select("doc_id", arr.alias("__toks"))
    if ngram == 1:
        sh = F.col("__toks")
    else:
        sh = F.when(
            F.size("__toks") >= ngram,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - ngram + 1),
                lambda i: F.array_join(F.slice("__toks", i, ngram), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    base = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )
    # name the base array so the per-coefficient mins don't re-derive
    # the md5s NUM_HASHES times (no CSE across higher-order functions)
    staged = toks.select("doc_id", base.alias("__hb")).filter(
        F.size("__hb") > 0
    )
    return staged.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    F.col("__hb"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P),
                )
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(_minhash_coeffs(NUM_HASHES))
        ],
    )


def band_buckets(sig: DataFrame, bands: int = 4) -> DataFrame:
    """LSH band buckets of a signature table: ``(doc_id, band, bucket)``
    — one pass over the signatures via an inline (band, bucket) struct
    array explode (a bands-way union would recompute the signature
    aggregation per band). The bucket key is the plain joined row
    string — equality is all a bucket needs, no re-hash. Shared by the
    corpus-wide candidate join AND the incremental batch-vs-store path.
    """
    if bands <= 0 or NUM_HASHES % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide NUM_HASHES ({NUM_HASHES}); "
            "a remainder would silently drop signature rows from banding"
        )
    r = NUM_HASHES // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"h{b * r + j}") for j in range(r)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_bucket_candidates(sig: DataFrame, bands: int = 4) -> DataFrame:
    """Candidate pairs sharing >= 1 LSH band bucket: ``(doc_a, doc_b)``.

    With k=16, b=4 (r=4) the collision threshold is ~(1/4)^(1/4)=0.71.
    The self-join shuffles on the bucket md5 — only docs in the same
    bucket ever pair up.
    """
    buckets = band_buckets(sig, bands)
    other = buckets.select(
        F.col("doc_id").alias("doc_b"), "band", "bucket"
    )
    return (
        buckets.withColumnRenamed("doc_id", "doc_a")
        .join(other, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over shingle sets, restricted to candidate pairs:
    ``(doc_a, doc_b, jaccard)`` with jaccard >= threshold, rounded 6.
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    ngram: int = 1,
    bands: int = 4,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact Jaccard verification.

    Recall is band-limited (standard LSH tradeoff): pairs whose
    signatures never collide in any band are not candidates. Tune
    ``bands`` (over ``NUM_HASHES`` hashes) to the target threshold.

    Returns an eager ``localCheckpoint`` — the shingle table is
    persisted for the build and released before returning, so repeated
    actions on the result never recompute the pipeline. The checkpoint
    pins executor storage that ``DataFrame.unpersist()`` CANNOT free;
    when done, call ``util.release_result(result)`` (after which the
    result is dead).
    """
    sh = shingles(docs, ngram).persist()
    try:
        sig = minhash_signatures(sh)
        cand = lsh_bucket_candidates(sig, bands)
        return jaccard_verify(cand, sh, threshold).localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def _shingle_pair_scores(
    docs: DataFrame,
    threshold: float,
    ngram: int,
    score_name: str,
    score_expr,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shared exact-recall pair scorer over shingle sets: candidates =
    pairs sharing at least one shingle, scored by ``score_expr(i, na,
    nb)`` (columns: intersection size and both set sizes), kept at or
    above ``threshold``. Backs both the symmetric Jaccard and the
    asymmetric containment operators so their physical shape can never
    diverge.

    Shingles are distinct per doc, so the self-join emits each
    (doc_a, doc_b) pair exactly once per shared shingle — the group
    count IS |A ∩ B|. One shingle-keyed shuffle + one pair aggregation,
    vs. the LSH path's candidates->re-join->count (which is only needed
    when candidates come from elsewhere).

    ``max_shingle_df`` is the skew cap: shingles appearing in more than
    that many documents are dropped from the shingle sets BEFORE the
    self-join — candidate volume per shingle is then bounded by
    C(max_shingle_df, 2), so one ubiquitous boilerplate shingle can no
    longer pair the whole corpus quadratically (the classic stop-shingle
    blow-up; without a cap, the self-join's hottest key is the corpus'
    hottest shingle). The cap changes SEMANTICS deterministically:
    scores become Jaccard/containment over the df-capped shingle sets
    (sizes na/nb count capped sets too), which is the standard df-cap
    approximation — a shingle shared by more than max_shingle_df docs
    carries no near-dup signal anyway. ``None`` keeps the exact
    uncapped semantics (fine when a profile shows no heavy shingles).
    """
    sh = shingles(docs, ngram)
    if max_shingle_df is not None:
        sh = df_capped_shingles(sh, max_shingle_df)
    sh = sh.persist()
    try:
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        # sizes is one row per doc — small here, but at scale it is NOT
        # broadcastable (a row per document); AQE picks broadcast vs
        # shuffle from the measured size.
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        score = F.round(
            score_expr(F.col("i").cast("double"), F.col("na"), F.col("nb")), 6
        )
        out = (
            inter.join(na, "doc_a")
            .join(nb, "doc_b")
            .select("doc_a", "doc_b", score.alias(score_name))
            .filter(F.col(score_name) >= threshold)
        )
        return out.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    ngram: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """n-gram Jaccard dedup WITHOUT LSH: candidates = pairs sharing at
    least one shingle — exact recall for threshold > 0 when
    ``max_shingle_df`` is None. At scale pass ``max_shingle_df`` (the
    stop-shingle skew cap, see ``_shingle_pair_scores``) or use
    minhash_near_dups: an uncapped ubiquitous shingle pairs its whole
    doc list quadratically in the self-join.

    Returns an eager checkpoint, as ``minhash_near_dups`` does (release
    with ``util.release_result`` when done).
    """
    return _shingle_pair_scores(
        docs,
        threshold,
        ngram,
        "jaccard",
        lambda i, na, nb: i / (na + nb - i),
        max_shingle_df=max_shingle_df,
    )


def ngram_jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: float,
    ngram: int = 3,
) -> DataFrame:
    """EXACT-recall n-gram Jaccard pairs via PREFIX FILTERING (the
    set-similarity-join literature's answer to the stop-shingle
    blow-up; cf. Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06):
    identical OUTPUT to the naive ``ngram_jaccard_pairs`` (same oracle
    SQL), but candidates come from joining only each doc's PREFIX —
    its rarest ``n - ceil(t*n) + 1`` shingles in global
    (document-frequency, shingle) order — against the full shingle
    table.

    Why recall is exact: J(A,B) >= t implies |A∩B| >= ceil(t*|A|); if
    B missed ALL of A's first ``|A| - ceil(t*|A|) + 1`` shingles, the
    intersection would fit inside A's remaining ``ceil(t*|A|) - 1`` —
    contradiction. So for every qualifying pair, EACH side's prefix
    intersects the other's full shingle set — the prefix-vs-full join
    finds the pair from both directions, and the least/greatest
    normalization collapses them to one row.

    Why it scales where the naive join explodes: prefixes hold each
    doc's RAREST shingles — a corpus-wide boilerplate shingle is
    (almost) never in any sizable doc's prefix, so the join key
    distribution is capped by rare-shingle dfs instead of the hottest
    shingle's C(df,2). Unlike ``max_shingle_df`` this changes NO
    semantics — it is the production default; the df cap remains the
    blunt fallback for adversarial inputs where even prefixes skew.

    ``ceil(t*n)`` is computed as ``ceil(t*n - 1e-9)``: float noise may
    only LENGTHEN the prefix (more candidates, same answer), never
    shorten it (which could drop pairs).
    """
    from pyspark.sql.window import Window

    sh = shingles(docs, ngram).persist()
    try:
        dfq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        w_doc = Window.partitionBy("doc_id").orderBy("__df", "shingle")
        ranked = (
            sh.join(dfq, "shingle")
            .withColumn("__r", F.row_number().over(w_doc))
            .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        )
        overlap_min = F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        prefix = ranked.filter(
            F.col("__r") <= F.col("__n") - overlap_min + 1
        ).select(F.col("doc_id").alias("doc_p"), "shingle")
        other = sh.select(F.col("doc_id").alias("doc_o"), "shingle")
        cand = (
            prefix.join(other, "shingle")
            .filter(F.col("doc_p") != F.col("doc_o"))
            .select(
                F.least("doc_p", "doc_o").alias("doc_a"),
                F.greatest("doc_p", "doc_o").alias("doc_b"),
            )
            .distinct()
        )
        return jaccard_verify(cand, sh, threshold).localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float,
    ngram: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment ``|A∩B| / min(|A|,|B|)``
    — catches a small doc embedded in a big one (boilerplate templates,
    quote-heavy pages, page-plus-navigation wrappers), which symmetric
    Jaccard misses: a 50-shingle doc inside a 5000-shingle page has
    Jaccard ~0.01 but containment 1.0.

    Same exact-recall physical shape as ngram_jaccard_pairs (both are
    the shared ``_shingle_pair_scores`` plan; only the score expression
    differs — and both take the same ``max_shingle_df`` stop-shingle
    skew cap). Emits ``(doc_a, doc_b, containment)`` for pairs at or
    above ``threshold``, with both directional ratios folded into the
    max-containment (min-denominator) form.
    """
    return _shingle_pair_scores(
        docs,
        threshold,
        ngram,
        "containment",
        lambda i, na, nb: i / F.least(na, nb),
        max_shingle_df=max_shingle_df,
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    seen_sigs: DataFrame,
    threshold: float = 0.5,
    ngram: int = 5,
    bands: int = 4,
    seen_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup ingestion: a new batch against a MinHash
    SIGNATURE store — the production shape at 100 TB, where the corpus
    persists ``minhash_signatures`` output (NUM_HASHES longs per doc),
    never shingle sets (unbounded strings per doc). The near-dup
    sibling of ``incremental_exact_dedup``. ``seen_bands`` optionally
    supplies the store's PRECOMPUTED band index (``band_buckets``
    columns ``doc_id, band, bucket`` — the layout
    ``programs.clean_corpus`` persists alongside the signatures);
    when omitted it is derived from ``seen_sigs`` on the fly. A
    persisted index keeps the probe from re-banding the whole store
    every batch — at scale it lives partitioned by (band, bucket) so
    the probe join co-locates.

    Verification is the signature Jaccard ESTIMATE — the fraction of
    equal minhash components, compared as an integer count against
    ``ceil(threshold * NUM_HASHES)`` (pure integer logic: bit-exact in
    the SQL oracle, no float folds). Exact shingle Jaccard is
    impossible here by design: the store has no shingles, and that is
    the point — estimate-based verify is what signature stores buy.

    Returns one row per batch doc: ``(doc_id, dup_of_store,
    dup_of_batch, keep)``. A doc is ``dup_of_store`` if it shares an
    LSH band bucket with ANY stored signature and the estimate clears
    the threshold; ``dup_of_batch`` if the same holds against a
    SMALLER-id batch doc (the keep-first rule, regardless of that doc's
    own fate — it stands in for whatever it duplicates). ``keep`` =
    neither. Append the kept docs' signatures to the store for the
    next batch.

    Shuffles: one signature aggregation over the (small) batch, a band
    join against the store — bucketed on (band, bucket), so at scale
    the store lives banded on disk and the probe co-locates — and one
    component-compare join per candidate set. The store side is never
    scanned beyond its band index + the candidate signatures.

    A supplied ``seen_bands`` is validated against the silent-miss
    failure mode: an index built under a DIFFERENT signature width or
    ``bands`` produces bucket strings that never equal
    this probe's, so every store candidate silently vanishes. The
    check samples ONE store doc, recomputes its ``band_buckets`` rows
    under this call's parameters (bucket = the comma-joined signature
    chunk, so it is reproducible from ``seen_sigs`` alone), and raises
    ``ValueError`` on any mismatch. Cost: two driver-side lookups of
    <= ``bands`` rows — noise next to the probe itself. This catches
    parameter drift deterministically; a TORN store commit (some docs
    signed but unbanded) only shows if the sample lands on a torn doc
    — full sigs<->bands coverage is the caller's store-integrity
    check, which ``programs.clean_corpus`` runs (and repairs) before
    every probe.

    Returns an eager checkpoint, as ``minhash_near_dups`` does; release
    it with ``util.release_result`` when done.
    """
    import math

    if seen_bands is not None:
        if bands <= 0 or NUM_HASHES % bands != 0:
            # the band_buckets divisibility error, raised HERE first:
            # a truncated r would build a wrong expected-bucket set and
            # report a misleading 'mismatched index' instead
            raise ValueError(
                f"bands ({bands}) must evenly divide NUM_HASHES "
                f"({NUM_HASHES}); a remainder would silently drop "
                "signature rows from banding"
            )
        r = NUM_HASHES // bands
        sample = seen_sigs.limit(1).collect()
        if sample:
            srow = sample[0]
            expected = {
                (b, ",".join(str(srow[f"h{b * r + j}"]) for j in range(r)))
                for b in range(bands)
            }
            got = {
                (row["band"], row["bucket"])
                for row in seen_bands.filter(
                    F.col("doc_id") == srow["doc_id"]
                ).collect()
            }
            if got != expected:
                raise ValueError(
                    "seen_bands is not the band_buckets index of seen_sigs "
                    f"under NUM_HASHES={NUM_HASHES}, bands={bands}: sampled "
                    f"doc {srow['doc_id']!r} has index rows {sorted(got)} "
                    f"but its signature bands to {sorted(expected)}. A "
                    "mismatched index silently drops every store candidate; "
                    "rebuild it with band_buckets(seen_sigs, bands) or "
                    "pass seen_bands=None to derive it on the fly."
                )

    min_matches = math.ceil(NUM_HASHES * threshold)
    sig_b = minhash_signatures(shingles(new_docs, ngram)).persist()
    try:
        bb_batch = band_buckets(sig_b, bands)
        bb_store = (
            seen_bands
            if seen_bands is not None
            else band_buckets(seen_sigs, bands)
        )
        n_eq = sum(
            [
                F.when(F.col(f"h{i}") == F.col(f"s{i}"), 1).otherwise(0)
                for i in range(NUM_HASHES)
            ],
            F.lit(0),
        )
        store_sigs = seen_sigs.select(
            F.col("doc_id").alias("store_id"),
            *[F.col(f"h{i}").alias(f"s{i}") for i in range(NUM_HASHES)],
        )
        cand_store = (
            bb_batch.join(
                bb_store.select(
                    F.col("doc_id").alias("store_id"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .select("doc_id", "store_id")
            .distinct()
        )
        dup_store = (
            cand_store.join(sig_b, "doc_id")
            .join(store_sigs, "store_id")
            .filter(n_eq >= min_matches)
            .select("doc_id")
            .distinct()
            .withColumn("dup_of_store", F.lit(1))
        )
        cand_batch = (
            bb_batch.join(
                bb_batch.select(
                    F.col("doc_id").alias("store_id"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .filter(F.col("store_id") < F.col("doc_id"))
            .select("doc_id", "store_id")
            .distinct()
        )
        batch_sigs = sig_b.select(
            F.col("doc_id").alias("store_id"),
            *[F.col(f"h{i}").alias(f"s{i}") for i in range(NUM_HASHES)],
        )
        dup_batch = (
            cand_batch.join(sig_b, "doc_id")
            .join(batch_sigs, "store_id")
            .filter(n_eq >= min_matches)
            .select("doc_id")
            .distinct()
            .withColumn("dup_of_batch", F.lit(1))
        )
        out = (
            sig_b.select("doc_id")
            .join(dup_store, "doc_id", "left")
            .join(dup_batch, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("dup_of_store", F.lit(0)).alias("dup_of_store"),
                F.coalesce("dup_of_batch", F.lit(0)).alias("dup_of_batch"),
            )
            .withColumn(
                "keep",
                (
                    (F.col("dup_of_store") == 0) & (F.col("dup_of_batch") == 0)
                ).cast("int"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        sig_b.unpersist()


# --- SimHash ----------------------------------------------------------------


def _word_hash60(col: Column) -> Column:
    """First 15 md5 hex digits as a 60-bit non-negative long — identical
    to the oracle's ``('0x' || substr(md5(w),1,15))::UBIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash fingerprint per doc: ``(doc_id, simhash)``.

    Classic bit-vote: each token's hash votes +count/-count per bit
    position; bit b of the fingerprint is set iff the vote sum >= 0.
    """
    # post-explode filter (not an array-lambda): stays in codegen
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    # Vote +/-1 per token OCCURRENCE — algebraically identical to the
    # classic +/-count per distinct word (sum of +/-1 over occurrences
    # == +/-cnt), so the (doc, word) pre-count shuffle is unnecessary.
    hashed = tokens.select("doc_id", _word_hash60(F.col("word")).alias("h"))
    # One wide aggregation (60 sum columns) instead of exploding 60 rows
    # per token — ONE shuffle total, with map-side partial aggregation
    # compacting to a row per doc per partition.
    vote_cols = [
        F.sum(
            F.when(
                F.expr(f"shiftright(h, {b})").bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes = hashed.groupBy("doc_id").agg(*vote_cols)
    fingerprint = sum(
        [
            F.when(F.col(f"v{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(SIMHASH_BITS)
        ],
        F.lit(0).cast("long"),
    )
    return votes.select("doc_id", fingerprint.alias("simhash"))


def hamming_band_pairs(
    fp: DataFrame,
    fp_col: str,
    max_hamming: int,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Hamming-banded near-dup pairs over ANY integer fingerprint
    column (SimHash text prints, perceptual image hashes, …):
    ``(doc_a, doc_b, hamming)`` for pairs at distance <= ``max_hamming``.

    Candidates come from equal ``bits/HAMMING_CHUNKS``-bit chunks
    (pigeonhole: any pair with hamming <= HAMMING_CHUNKS-1 shares a
    chunk; larger
    max_hamming trades recall, like all LSH — the SQL oracle mirrors
    the identical bucketing so parity is exact by design). Verified
    with ``bit_count(xor)``. The chunk self-join shuffles on
    (chunk, key) — never the all-pairs product; a hot bucket (many
    identical fingerprints) is AQE's skew-join case.
    """
    bits_per = bits // HAMMING_CHUNKS
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.expr(f"shiftright({fp_col}, {c * bits_per})")
                .bitwiseAND(F.lit((1 << bits_per) - 1))
                .alias("key"),
            )
            for c in range(HAMMING_CHUNKS)
        ]
    )
    buckets = fp.select(
        "doc_id", F.col(fp_col).alias("__fp"), F.explode(chunk_structs).alias("cc")
    ).select(
        "doc_id", "__fp", F.col("cc.chunk").alias("chunk"), F.col("cc.key").alias("key")
    )
    other = buckets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__fp").alias("fp_b"),
        "chunk",
        "key",
    )
    cand = (
        buckets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("__fp").alias("fp_a"),
            "chunk",
            "key",
        )
        .join(other, ["chunk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def hamming_store_probe(
    fp: DataFrame,
    store_fp: DataFrame,
    max_hamming: int = 10,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Cross-probe of a batch fingerprint table against a persisted
    STORE of fingerprints — the incremental/streaming twin of
    ``hamming_band_pairs``'s self-join, factored out so the streaming
    image probe and the batch media-store program share one
    implementation. Both inputs carry ``(doc_id, phash)``; emits one
    row per batch doc with a verified match: ``(doc_id, dup_store_id,
    min_hamming)`` — the smallest matching store doc and the closest
    distance.

    Candidates come from equal ``bits/HAMMING_CHUNKS``-bit chunks on
    BOTH sides (same pigeonhole recall as the self-join: any pair within
    HAMMING_CHUNKS-1 Hamming is guaranteed a shared chunk), verified with
    ``bit_count(xor)``. The store's chunk index is broadcast. The store
    is fingerprints-only (~8 bytes + ids per doc, ×``HAMMING_CHUNKS``
    exploded), so the broadcast holds to roughly the 100M-fingerprint
    mark under an 8 GB ``spark.sql.maxBroadcastTableSize``-era budget —
    comfortably every per-tenant or per-day store, but NOT a
    billion-doc corpus index. Stateless row-wise expressions throughout,
    which is what lets Structured Streaming run it per micro-batch
    with no state beyond the caller's final aggregation.
    """
    bits_per = bits // HAMMING_CHUNKS

    def chunked(frame: DataFrame, out_id: str, out_fp: str):
        structs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.expr(f"shiftright(phash, {c * bits_per})")
                    .bitwiseAND(F.lit((1 << bits_per) - 1))
                    .alias("key"),
                )
                for c in range(HAMMING_CHUNKS)
            ]
        )
        return frame.select(
            F.col("doc_id").alias(out_id),
            F.col("phash").alias(out_fp),
            F.explode(structs).alias("cc"),
        ).select(
            out_id,
            out_fp,
            F.col("cc.chunk").alias("chunk"),
            F.col("cc.key").alias("key"),
        )

    stream_chunks = chunked(fp, "doc_id", "__fp")
    store_chunks = F.broadcast(chunked(store_fp, "store_id", "fp_s"))
    hamming = F.bit_count(F.col("__fp").bitwiseXOR(F.col("fp_s")))
    return (
        stream_chunks.join(store_chunks, ["chunk", "key"])
        .filter(hamming <= max_hamming)
        .select("doc_id", "store_id", hamming.alias("hamming"))
        .groupBy("doc_id")
        .agg(
            F.min("store_id").alias("dup_store_id"),
            F.min("hamming").alias("min_hamming"),
        )
    )


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: ``(doc_a, doc_b, hamming)``.

    Candidates come from equal 15-bit chunks (pigeonhole: any pair with
    hamming <= HAMMING_CHUNKS-1 shares a chunk; larger max_hamming trades
    recall, like all LSH). Verified with bit_count(xor) — the shared
    ``hamming_band_pairs`` machinery.

    The fingerprint table is persisted for the band self-join and the
    result is an eager checkpoint, as in ``minhash_near_dups``
    (release it with ``util.release_result``).
    """
    fp = simhash(docs).persist()
    try:
        out = hamming_band_pairs(fp, "simhash", max_hamming, SIMHASH_BITS)
        return out.localCheckpoint(eager=True)
    finally:
        fp.unpersist()


def embedding_near_dup_survivors(
    docs: DataFrame,
    emb: DataFrame,
    threshold: float = 0.25,
    num_planes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup pass: drop every document whose
    embedding has cosine >= ``threshold`` with a SMALLER-id document
    (the keep-first rule of ``exact_dedup``), candidates restricted to
    banded hyperplane buckets (similarity.cosine_pairs_lsh — the
    OR-of-ANDs LSH band join, never the N^2 product).

    Returns the surviving docs rows (caller's schema preserved). The
    drop set is ONE anti-join against the distinct higher-id member of
    each near-dup pair; at 100 TB this is the standard semantic-dedup
    shape: sketch shuffle + per-bucket verify + broadcast-able drop
    list (near-dup sets are tiny relative to the corpus).

    Recall matches the LSH pass it is built on: pairs in different
    buckets are missed (documented in cosine_pairs_lsh); the SQL
    oracle mirrors the identical sketch construction, so parity is
    exact by design.

    The pair set materializes eagerly inside (cosine_pairs_lsh's
    default cadence — the sketch fold runs over the vectors once), so
    the returned survivors frame references a pinned checkpoint:
    release with ``util.release_result(survivors)`` when done (it
    walks composite plans), or let ``programs.clean_corpus``'s
    RDD-layer release handle it.
    """
    from pagerank_mapreduce_implementation_spark.operators.similarity import cosine_pairs_lsh

    pairs = cosine_pairs_lsh(emb, threshold, num_planes, bands, materialize=True)
    dropped = pairs.select(F.col("vec_b").alias("doc_id")).distinct()
    # survivors keep the caller's own columns — projecting a fixed
    # schema here would break any docs frame that lacks it
    return docs.join(dropped, "doc_id", "left_anti")


# --- Exact-substring (suffix-array style) runs ------------------------------


def substring_runs(
    docs: DataFrame,
    k: int = 8,
    min_len: int = 12,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): maximal verbatim token runs of
    length >= ``min_len`` shared between document PAIRS — the dedup
    mode document-granularity fingerprints (exact_dedup), MinHash,
    SimHash, and Jaccard all miss: a 50-token boilerplate passage
    embedded in two otherwise-different documents.

    Returns ``(doc_a, doc_b, a_start, b_start, match_len)`` with
    ``doc_a < doc_b``, 0-based token starts in each doc, and
    ``match_len`` in tokens. One row per MAXIMAL run (a shared 20-token
    passage emits one length-20 row, not 13 overlapping k-gram rows).
    CAVEAT under ``max_gram_df``: the cap drops hot grams BEFORE
    pairing, so a capped gram in the middle of a shared passage splits
    that maximal run at the gram's position — the two flanks come back
    as separate (shorter) rows, and a flank that falls below
    ``min_len`` is dropped entirely. Maximality is therefore exact only
    over the df-capped gram sets (the standard stop-gram trade, same as
    ``max_shingle_df``); ``tests/test_dedup.py`` pins the split
    behavior so it stays deliberate.

    Algorithm — the distributed equivalent of the suffix-array scan,
    built from the engine's existing k-gram machinery instead of a
    monolithic suffix array (which is a single-machine data structure;
    the ES/Lee implementation shards it, this expresses the same
    semantics as three key-bounded shuffles):

    1. every doc emits its k-gram positions ``(doc_id, pos,
       md5(gram))`` — narrow explode, same shape as ``shingles``;
    2. grams meeting in a hash bucket pair up (``doc_a < doc_b``) —
       the ONE corpus-sized shuffle, keyed on the gram hash exactly
       like the shingle self-join, with the same stop-gram df cap
       (``max_gram_df``: grams in more than that many docs are dropped
       BEFORE pairing — boilerplate k-grams are the quadratic skew
       key at 100 TB, the ``max_shingle_df`` rail);
    3. adjacent hits merge into maximal runs: hits of one pair on one
       DIAGONAL (``ia - ib`` constant) at consecutive ``ia`` are the
       same underlying substring, so gaps-and-islands over
       ``(doc_a, doc_b, diag)`` — a window partitioned by pair+diag,
       candidate-volume-sized, never corpus-sized — turns each island
       of ``c`` consecutive k-grams into one run of ``c + k - 1``
       tokens.

    md5 gram hashes make step 2's key 128-bit (collisions negligible
    AND mirrored: the SQL oracle joins the identical md5, so even a
    collision would agree). ``min_len >= k`` required: runs shorter
    than k are invisible to a k-gram scan by construction.

    The GRAM table is persisted for its three consumers (the df-cap
    count and both self-join sides — Catalyst clones equi-join diamonds
    into different pruned subtrees, so lazily the corpus is
    tokenized+hashed three times) and the (small) run report is
    returned as a releasable eager checkpoint (``util.release_result``);
    measured 2.8 s -> 1.8 s at sf0.1 against the lazy plan. At
    memory-tight extremes the persisted gram table (tens of bytes per
    token, MEMORY_AND_DISK) is the documented trade against three
    tokenize passes.
    """
    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    if min_len < k:
        raise ValueError(
            f"min_len ({min_len}) must be >= k ({k}): a {k}-gram scan "
            f"cannot see shared runs shorter than {k} tokens"
        )
    if max_gram_df is not None and max_gram_df < 1:
        raise ValueError(f"max_gram_df ({max_gram_df}) must be >= 1")
    grams = _gram_positions(docs, k).persist()
    try:
        out = _runs_from_grams(grams, k, min_len, max_gram_df)
        return out.localCheckpoint(eager=True)
    finally:
        grams.unpersist()


def _gram_positions(docs: DataFrame, k: int) -> DataFrame:
    """``(doc_id, pos, gh)``: every k-gram's 0-based token position and
    md5 hash, for docs of at least ``k`` tokens."""
    # named token-array column first: no CSE across higher-order
    # functions (same measured pitfall as shingles)
    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    toks = docs.select("doc_id", arr.alias("toks")).filter(F.size("toks") >= k)
    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - k),
                lambda i: F.md5(F.array_join(F.slice("toks", i + 1, k), " ")),
            )
        ).alias("pos", "gh"),
    )


def _runs_from_grams(
    grams: DataFrame, k: int, min_len: int, max_gram_df: int | None
) -> DataFrame:
    """The lazy plan ``substring_runs`` checkpoints: steps 2-3 of its
    algorithm over a ``_gram_positions`` table."""
    from pyspark.sql.window import Window

    capped = grams
    if max_gram_df is not None:
        # df counts DOCS per gram (a gram repeated within one doc is
        # one df), so the cap bounds pair fan-out per gram at C(df, 2)
        hot = (
            grams.select("doc_id", "gh")
            .distinct()
            .groupBy("gh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_gram_df)
            .select("gh")
        )
        capped = grams.join(hot, "gh", "left_anti")
    hits = (
        capped.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("ia"), "gh")
        .join(
            capped.select(
                F.col("doc_id").alias("doc_b"), F.col("pos").alias("ib"), "gh"
            ),
            "gh",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ia", "ib")
    )
    diag = (F.col("ia") - F.col("ib")).alias("__diag")
    w = Window.partitionBy("doc_a", "doc_b", F.col("ia") - F.col("ib")).orderBy("ia")
    islands = hits.select(
        "doc_a",
        "doc_b",
        diag,
        "ia",
        (F.col("ia") - F.row_number().over(w)).alias("__grp"),
    )
    runs = (
        islands.groupBy("doc_a", "doc_b", "__diag", "__grp")
        .agg(
            F.min("ia").alias("a_start"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("match_len"),
        )
        .filter(F.col("match_len") >= min_len)
    )
    return runs.select(
        "doc_a",
        "doc_b",
        "a_start",
        (F.col("a_start") - F.col("__diag")).alias("b_start"),
        "match_len",
    )


def strip_substring_runs(
    docs: DataFrame,
    k: int = 8,
    min_len: int = 12,
    max_gram_df: int | None = None,
) -> DataFrame:
    """The REMOVAL step ``substring_runs`` reports for (Lee et al.
    2022 end their pipeline in deletion, not a report): cut every
    shared run's token span out of the HIGHER-id document of each pair
    (the keep-first rule every dedup operator here uses — the lower-id
    doc keeps the passage, so exactly one verbatim copy survives any
    duplicate chain a<b<c).

    Returns ``docs`` with ``text`` rebuilt minus the stripped
    spans plus an ``n_stripped`` token count. Documents with no spans
    pass through BYTE-identical (no whitespace canonicalization);
    stripped documents are rebuilt by single-space-joining their
    surviving tokens, in original order — the tokenized-rebuild
    convention (``substring_runs`` positions are token indices, so
    original inter-token whitespace inside a stripped doc is not
    recoverable, and normalizing it is what every public
    implementation of the paper does). Other columns ride through
    untouched — metadata like a precomputed ``n_chars`` is NOT
    recomputed.

    Overlapping spans (one doc victim to several pairs, or several
    runs on different diagonals) need no merge pass: a token is kept
    iff NO span covers it — set-union semantics via ``exists`` over
    the doc's span array, evaluated per token in one narrow pass.

    Scale shape: ``substring_runs``'s bounded shuffles + ONE span
    aggregation keyed by victim doc (candidate-volume-sized) + a
    broadcast-or-shuffle join back to the corpus; the rebuild is pure
    column expressions (filter-with-index + array_join), zero Python.

    The report comes from ``substring_runs``, whose
    eager checkpoint the RETURNED frame references; release it with
    ``util.release_result`` on any consumer of this output, or with
    ``util.release_persistent_rdds_since`` as ``programs.clean_corpus``
    does.
    """
    runs = substring_runs(docs, k, min_len, max_gram_df)
    spans = (
        runs.select(
            F.col("doc_b").alias("doc_id"),
            F.struct(
                F.col("b_start").alias("s"),
                (F.col("b_start") + F.col("match_len")).alias("e"),
            ).alias("sp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list("sp").alias("__spans"))
    )
    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    staged = docs.join(spans, "doc_id", "left").withColumn("__toks", arr)
    kept = F.filter(
        F.col("__toks"),
        lambda w, i: ~F.exists(
            F.col("__spans"), lambda sp: (sp["s"] <= i) & (i < sp["e"])
        ),
    )
    new_text = F.when(F.col("__spans").isNull(), F.col("text")).otherwise(
        F.array_join(kept, " ")
    )
    n_stripped = F.when(F.col("__spans").isNull(), F.lit(0)).otherwise(
        F.size("__toks") - F.size(kept)
    )
    out_cols = [
        new_text.alias("text") if c == "text" else F.col(c)
        for c in docs.columns
    ]
    return staged.select(*out_cols, n_stripped.alias("n_stripped"))


def line_dedup(docs: DataFrame, min_line_chars: int = 1) -> DataFrame:
    """Corpus-wide repeated-LINE removal, keep-first (the CCNet /
    MassiveText boilerplate pass — Wenzek et al. 2020 deduplicate
    normalized paragraph hashes across shards to strip cookie
    banners, nav bars, and license boilerplate that whole-document
    dedup can never see).

    Splits ``text`` on newlines, keys each line by
    ``md5(lower(trim(line)))`` (CCNet's case-insensitive normalization
    without its digit-stripping, documented deviation), and keeps
    only the FIRST occurrence of each key corpus-wide, ordered by
    ``(doc_id, line_idx)``. Lines whose trimmed length is <
    ``min_line_chars`` are exempt: blank separators never collapse
    across the corpus. Duplicates WITHIN
    one document count too (second copy drops), matching CCNet's
    shard-global behavior.

    Returns ``docs`` with ``text`` rebuilt (surviving lines
    re-joined with newlines, original order) plus ``n_dropped_lines``.
    Documents losing no lines pass through BYTE-identical — the
    rebuild only touches victims.

    Scale shape (the ``strip_substring_runs`` contract): explode is
    narrow; ONE corpus-sized groupBy on the line key computes
    (df, first-owner) with map-side partial aggregation — skew-safe
    where a window over the key would serialize a billion-row
    boilerplate line into one task; the key join back is
    candidate-volume-bounded by AQE; per-victim drop indices
    aggregate in a second (victim-sized) shuffle; the corpus join +
    filter-with-index rebuild is pure column expressions, zero
    Python.
    """
    import re as _re

    if min_line_chars < 1:
        # 0 would admit the empty string as a dedup key: every blank
        # line in the corpus collapses into one, silently rewriting
        # documents that share no content
        raise ValueError(f"min_line_chars ({min_line_chars}) must be >= 1")
    pat = _re.escape("\n")

    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), pat)).alias("idx", "line"),
    ).filter(F.length(F.trim("line")) >= min_line_chars)
    keyed = lines.select(
        "doc_id", "idx", F.md5(F.lower(F.trim(F.col("line")))).alias("k")
    )
    # one shuffle: (df, first-owner) per key — min(struct) orders by
    # (doc_id, idx) lexicographically = the keep-first rule
    stats = keyed.groupBy("k").agg(
        F.count(F.lit(1)).alias("__df"),
        F.min(F.struct("doc_id", "idx")).alias("__first"),
    )
    dropped = (
        keyed.join(stats.filter(F.col("__df") > 1), "k")
        .filter(
            (F.col("doc_id") != F.col("__first.doc_id"))
            | (F.col("idx") != F.col("__first.idx"))
        )
        .groupBy("doc_id")
        .agg(F.collect_list("idx").alias("__drops"))
    )
    staged = docs.join(
        dropped, "doc_id", "left"
    ).withColumn("__lines", F.split(F.col("text"), pat))
    kept = F.filter(
        F.col("__lines"),
        lambda ln, i: ~F.array_contains(F.col("__drops"), i),
    )
    new_text = F.when(F.col("__drops").isNull(), F.col("text")).otherwise(
        F.array_join(kept, "\n")
    )
    n_dropped = F.when(F.col("__drops").isNull(), F.lit(0)).otherwise(
        F.size("__drops")
    )
    out_cols = [
        new_text.alias("text") if c == "text" else F.col(c)
        for c in docs.columns
    ]
    return staged.select(*out_cols, n_dropped.alias("n_dropped_lines"))


def intra_doc_line_dedup(
    docs: DataFrame,
    sep: str = "\n",
    min_line_chars: int = 1,
) -> DataFrame:
    """WITHIN-document repeated-line removal, keep-first —
    ``line_dedup``'s intra-doc sibling (the RefinedWeb / C4 pass that
    strips a page's own repeated nav rows, chorus lines, and
    copy-pasted paragraphs WITHOUT consulting the rest of the corpus;
    Penedo et al. 2023 run exactly this before any corpus-global
    pass). Same key convention (``md5(lower(trim(line)))``), same
    ``min_line_chars`` exemption (blank separators never collapse),
    same contract: ``docs`` with ``text`` rebuilt (surviving
    lines re-joined with ``sep``, original order — documents losing
    no lines pass through BYTE-identical) plus ``n_dropped_lines``.

    Scale shape — the whole point of having it beside ``line_dedup``:
    **zero shuffle**. The dedup decision needs only the document's own
    lines, so the entire pass is higher-order array expressions
    (split -> per-line keys -> keep iff ``array_position`` of my key
    is my own index) inside one narrow projection; at 100 TB this is
    a map-only scan while ``line_dedup`` pays a corpus-sized groupBy.
    Keys exist only inside the per-row expression — no exploded
    intermediate, no Python.
    """
    import re as _re

    if min_line_chars < 1:
        # 0 would admit the empty string as a dedup key: every run of
        # consecutive blank lines would silently collapse to one
        raise ValueError(f"min_line_chars ({min_line_chars}) must be >= 1")
    pat = _re.escape(sep)

    lines = F.split(F.col("text"), pat, -1)
    staged = docs.withColumn("__lines", lines).withColumn(
        "__keys",
        F.transform(
            F.col("__lines"),
            lambda ln: F.when(
                F.length(F.trim(ln)) >= min_line_chars,
                F.md5(F.lower(F.trim(ln))),
            ),
        ),
    )
    # keep line i iff exempt (null key) or the FIRST occurrence of its
    # key is i itself (array_position is 1-based and skips nulls)
    kept = F.filter(
        F.col("__lines"),
        lambda ln, i: F.get(F.col("__keys"), i).isNull()
        | (
            F.array_position(F.col("__keys"), F.get(F.col("__keys"), i))
            == i + 1
        ),
    )
    n_dropped = F.size("__lines") - F.size(kept)
    new_text = F.when(n_dropped == 0, F.col("text")).otherwise(F.array_join(kept, sep))
    out_cols = [
        new_text.alias("text") if c == "text" else F.col(c)
        for c in docs.columns
    ]
    return staged.select(*out_cols, n_dropped.alias("n_dropped_lines"))


def semdedup(
    docs: DataFrame,
    emb: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.95,
    n_iters: int = 2,
    keep_rule: str = "min_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by k-means-cluster-
    bounded cosine comparison. Cluster the embeddings (Lloyd,
    bit-deterministic ``exact_mean`` centroids), compare vectors only
    WITHIN their cluster, and drop one member of every pair with
    cosine >= ``threshold``:

    - ``keep_rule="min_id"`` (default): the higher id drops — the
      keep-first rule every dedup operator here uses.
    - ``keep_rule="centroid_far"``: the member CLOSER to its centroid
      drops (ties: higher id) — the paper's rule; keeping low-
      centroid-similarity examples preserves cluster-edge diversity.

    Returns the surviving ``docs`` rows, caller's schema preserved
    (the ``embedding_near_dup_survivors`` contract — ``emb``'s
    ``vec_id`` values name ``docs``' ``doc_id``).

    Scale shape — the paper's point re-expressed in Spark terms:
    clustering REPLACES the quadratic all-pairs product with per-cell
    products of ~(N/n_cells)^2 / 2 candidates, tuned by ``n_cells``
    (their 100M-scale runs use k=50k; cells just need to fit a task).
    Centroids are a driver-side dim table broadcast into ONE narrow
    assignment fold (``ivf_assign`` — no shuffle); the only shuffle is
    the cell-keyed self-join, AQE-split when a cell skews; the drop
    set is distinct victim ids — tiny, broadcast into the final
    anti-join. Recall caveat (documented, inherent to the method): a
    pair STRADDLING two cells is never compared; raise ``n_iters`` /
    choose ``n_cells`` by corpus geometry to taste.

    Wide embeddings (1k+ dims): compose with
    ``embeddings.pca_project`` / ``embeddings.truncate_embeddings``
    first (rename ``proj`` to ``embedding``) — every per-cell
    cosine and the assignment fold shrink by dims/d while SemDeDup's
    cluster geometry is preserved by construction.
    """
    from pagerank_mapreduce_implementation_spark.operators.similarity import (
        _dot,
        _norm,
        ivf_assign,
        lloyd_centroids,
    )

    if keep_rule not in ("min_id", "centroid_far"):
        raise ValueError(
            f"unknown keep_rule {keep_rule!r}: expected min_id or centroid_far"
        )
    if not (0.0 < threshold <= 1.0):
        # <=0 admits every within-cell pair: the anti-join then drops
        # all but one doc per cell — a corpus wipe, not a dedup
        raise ValueError(f"threshold ({threshold}) must be in (0, 1]")

    cents = lloyd_centroids(emb, n_cells, n_iters, exact_mean=True)
    cents_df, assign = ivf_assign(emb, n_cells, centroids=cents)
    side = assign.select(
        "vec_id", "cell_id", "vec", _norm(F.col("vec")).alias("vnorm")
    )
    if keep_rule == "centroid_far":
        # each row's cosine to its OWN centroid (broadcast dim join)
        side = side.join(F.broadcast(cents_df), "cell_id").select(
            "vec_id",
            "cell_id",
            "vec",
            "vnorm",
            (
                _dot(F.col("vec"), F.col("cvec"))
                / (F.col("vnorm") * F.col("cnorm"))
            ).alias("ccos"),
        )
    side = side.persist()
    try:
        a = side.select(
            F.col("cell_id"),
            F.col("vec_id").alias("id_a"),
            F.col("vec").alias("va"),
            F.col("vnorm").alias("na"),
            *([F.col("ccos").alias("ccos_a")] if keep_rule == "centroid_far" else []),
        )
        b = side.select(
            F.col("cell_id"),
            F.col("vec_id").alias("id_b"),
            F.col("vec").alias("vb"),
            F.col("vnorm").alias("nb"),
            *([F.col("ccos").alias("ccos_b")] if keep_rule == "centroid_far" else []),
        )
        pairs = (
            a.join(b, "cell_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cos", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            )
            .filter(F.col("cos") >= threshold)
        )
        if keep_rule == "centroid_far":
            victim = (
                F.when(F.col("ccos_a") > F.col("ccos_b"), F.col("id_a"))
                .when(F.col("ccos_b") > F.col("ccos_a"), F.col("id_b"))
                .otherwise(F.greatest("id_a", "id_b"))
            )
        else:
            victim = F.col("id_b")
        dropped = (
            pairs.select(victim.alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        side.unpersist()
    return docs.join(F.broadcast(dropped), "doc_id", "left_anti")


# --- content-defined chunking (CDC) ----------------------------------------

CDC_POLY_BASE = 8191
CDC_POLY_MOD = 1_000_000_007


def cdc_chunks(docs: DataFrame, window: int = 3, divisor: int = 16) -> DataFrame:
    """Content-defined chunking at token granularity — the LBFS/Rabin
    split (Muthitacharoen et al. 2001) that storage dedup and
    incremental-crawl pipelines use: ``(doc_id, chunk_idx, chunk_hash,
    n_tokens)``.

    A position ``p`` (1-based, ``p >= window``) is a cut point iff the
    polynomial rolling hash of the ``window`` tokens ending at ``p`` —
    ``(sum_j th[p-j] * BASE^j) mod M``, ``th`` the md5 60-bit word hash
    mod M — is divisible by ``divisor``; the document end is always a
    boundary. Chunks are the token runs between consecutive
    boundaries, hashed by ``md5`` of their space-joined tokens.
    Because a cut depends only on the ``window`` tokens ending at it
    (the pure CDC form, no min/max clamp), an insertion or deletion
    re-chunks only its neighborhood — the boundary-shift immunity
    fixed-size blocks lack, and the reason chunk-level dedup of an
    incremental crawl stays incremental. Expected chunk length is
    ``divisor`` tokens; production CDC adds min/max clamps, which
    serialize the cut decision (each cut depends on the previous one)
    — the documented escalation, not the default.

    Scale shape: per-doc array expressions only — tokenize, one
    ``transform`` for token hashes, one ``filter`` over positions for
    cut points, one indexed ``transform`` for chunk spans, then a
    narrow ``explode``. ZERO shuffles in this operator; downstream
    dup-counting (``cdc_dup_stats``) adds the one chunk-key shuffle
    that is the point of chunking. The token-hash array is staged in
    its own projection so the position lambda indexes a materialized
    array instead of re-evaluating the hash subtree per element (the
    HOF re-evaluation pitfall measured on gopher_repetition).
    """
    if window < 1:
        raise ValueError(f"window ({window}) must be >= 1")
    if divisor < 1:
        raise ValueError(f"divisor ({divisor}) must be >= 1")
    B, M = CDC_POLY_BASE, CDC_POLY_MOD

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    t = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    t = t.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.transform("toks", lambda x: _word_hash60(x) % M).alias("th"),
    )

    def rolling(p: Column) -> Column:
        # (sum_{j<window} th[p-j] * B^j) mod M; each term is bounded by
        # (M-1)*B^(window-1) so the BIGINT sum never overflows for
        # window <= 3 at these constants
        acc = F.lit(0).cast("long")
        for j in range(window):
            acc = acc + F.element_at(F.col("th"), p - j) * F.lit(B**j)
        return acc % M

    cuts = F.when(
        F.col("n") >= window,
        F.filter(
            F.sequence(F.lit(window), F.col("n")),
            lambda p: rolling(p) % divisor == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    # cuts are ascending and n is the maximum, so distinct keeps order
    bounds = F.array_distinct(F.concat(cuts, F.array(F.col("n"))))
    t = t.select("doc_id", "toks", bounds.alias("bounds"))

    def span(b: Column, j: Column) -> Column:
        start = F.when(j == 0, F.lit(1)).otherwise(
            F.element_at(F.col("bounds"), j) + 1
        )
        piece = F.slice(F.col("toks"), start, b - start + 1)
        return F.struct(
            (j + 1).alias("chunk_idx"),
            F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
            (b - start + 1).cast("long").alias("n_tokens"),
        )

    return t.select(
        "doc_id", F.explode(F.transform("bounds", span)).alias("c")
    ).select("doc_id", "c.chunk_idx", "c.chunk_hash", "c.n_tokens")


def cdc_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-document chunk-level duplication profile over the CDC
    split: ``(doc_id, n_chunks, n_tokens, dup_chunks, dup_tokens,
    dup_token_frac)`` — ``dup_*`` counting chunks whose content hash
    occurs more than once corpus-wide (either in another document or
    repeated within this one). The chunk-mass fraction is the
    incremental-crawl read: how much of this document's content the
    corpus already stores under CDC.

    Two shuffles, both key-bounded: one groupBy on ``chunk_hash``
    (map-side partial agg — skew-safe where a window over the hash
    would serialize a boilerplate mega-chunk into one task), whose
    occurrence counts join back candidate-bounded under AQE, then the
    per-doc rollup on ``doc_id``.
    """
    ch = cdc_chunks(docs)
    occ = ch.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("occ"))
    dup = F.col("occ") > 1
    return (
        ch.join(occ, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("dup_chunks"),
            F.sum(F.when(dup, F.col("n_tokens")).otherwise(0)).alias(
                "dup_tokens"
            ),
            F.round(
                F.sum(F.when(dup, F.col("n_tokens")).otherwise(0))
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("dup_token_frac"),
        )
    )


def cluster_winners(members: DataFrame) -> DataFrame:
    """Quality-argmax per cluster → ``(cluster_id, __keeper)`` from a
    ``(doc_id, cluster_id, quality)`` membership frame — the ONE
    definition of the survivor rule (highest quality, ties to the
    smallest doc_id) shared by ``cluster_survivors`` and
    ``programs.clean_corpus(survivor_policy="quality")``. ``min_by``
    over the ``(-quality, doc_id)`` struct: no window, so a
    mega-cluster's members never serialize through one task's sort."""
    return members.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id", F.struct((-F.col("quality")).alias("nq"), "doc_id")
        ).alias("__keeper")
    )


def cluster_survivors(
    docs: DataFrame,
    threshold: float = 0.5,
    ngram: int = 5,
) -> DataFrame:
    """The dedup DECISION table — per document: which near-dup cluster
    it belongs to, which cluster member survives, and whether this row
    is the survivor → ``(doc_id, cluster_id, survivor_id, keep)``.

    Pipeline: MinHash+LSH near-dup pairs (``minhash_near_dups``) →
    transitive closure into clusters (``connected_components``,
    alternating large/small-star — O(log^2 n) rounds regardless of
    cluster diameter) → survivor = the member with the highest
    ``textstats.quality_scores`` quality, ties to the smallest doc_id
    (a total order, so the choice is reproducible and cross-engine
    exact). Deduplication keeps the BEST copy, not an arbitrary one —
    near-dup clusters mix clean originals with boilerplate-wrapped
    mirrors, and survivor policy is where that quality is won or lost
    (Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" leaves survivor choice open; quality-argmax is the
    production default). Singleton documents cluster with themselves
    and survive.

    Scale shape: pairs/CC are the audited ``dedup_clusters`` plan;
    the survivor step adds one doc-bounded quality pass (zero-shuffle
    column exprs), one doc-bounded left join onto the cluster map,
    and one cluster-keyed ``min_by`` argmax with map-side partial
    aggregation — no window, so a mega-cluster's members never
    serialize through a single task's sort.
    """
    from pagerank_mapreduce_implementation_spark.operators import graph as _graph
    from pagerank_mapreduce_implementation_spark.operators import textstats as _ts

    pairs = minhash_near_dups(
        docs, threshold=threshold, ngram=ngram
    ).select("doc_a", "doc_b")
    comp = _graph.connected_components(pairs, "doc_a", "doc_b", algorithm="star")
    quality = _ts.quality_scores(docs, score_only=True).select(
        F.col("doc_id"), F.col("quality")
    )
    membered = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("vertex", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster_id")
        )
        .join(quality, "doc_id")
    )
    winners = cluster_winners(membered).withColumnRenamed(
        "__keeper", "survivor_id"
    )
    return (
        membered.join(winners, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id")).alias("keep"),
        )
    )


def edit_verified_dups(
    docs: DataFrame,
    max_dist: int = 20,
    threshold: float = 0.5,
    ngram: int = 5,
) -> DataFrame:
    """Edit-distance-VERIFIED near-duplicates → ``(doc_a, doc_b,
    edit_dist)``: MinHash+LSH candidate pairs re-checked with the
    exact Levenshtein distance, keeping pairs within ``max_dist``
    edits. The candidate/verify split of a production fuzzy-dedup
    pass: the sketch (Jaccard over shingles) is cheap but
    order-insensitive — two docs built from the same sentences in a
    different order pass it — while edit distance certifies
    character-level SEQUENCE similarity; running it only on the
    LSH-bounded candidate list is what makes the O(len_a·len_b)
    kernel affordable.

    Scale shape: candidates are the audited ``minhash_near_dups``
    banded plan (never all-pairs); the verify step is two doc-bounded
    joins to fetch texts plus a per-pair compute with NO further
    shuffle. The ``max_dist`` bound is pushed INTO the kernel
    (``levenshtein(a, b, threshold)`` — Ukkonen banding, O(max_dist ·
    len) instead of O(len^2), returning -1 past the bound), so a
    mismatched candidate pair costs the band, not the full matrix.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist ({max_dist}) must be non-negative")
    pairs = minhash_near_dups(
        docs, threshold=threshold, ngram=ngram
    ).select("doc_a", "doc_b")
    texts = docs.select("doc_id", F.col("text").alias("__t"))
    return (
        pairs.join(
            texts.select(
                F.col("doc_id").alias("doc_a"), F.col("__t").alias("__ta")
            ),
            "doc_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("doc_b"), F.col("__t").alias("__tb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("__ta", "__tb", threshold=int(max_dist)).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") >= 0)
    )


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken 2003,
    the MOSS scheme) — ``(doc_id, pos, fp)``: over the lowercased,
    whitespace-stripped text, hash every character ``k``-gram (the
    shared 60-bit md5 convention — first 15 hex chars — so the DuckDB
    oracle is bit-exact), slide a window of ``w`` consecutive hashes,
    keep the RIGHTMOST minimal hash of each window (simple winnowing),
    and emit the distinct selected (position, hash) pairs. The
    guarantee that makes it the classic partial-overlap detector: any
    shared substring of length ``k + w - 1`` or more yields at least
    one shared fingerprint, while only ~2/(w+1) of all grams are kept.
    Docs shorter than ``k + w - 1`` characters emit nothing (no full
    window).

    ONE Arrow-batched ``mapInPandas`` pass, zero shuffle — the
    justified-Python case (the BPE-piece precedent): the selection is
    expressible as nested higher-order column functions, but lambdas
    never enter codegen and the interpreter costs ~2 us per elementary
    step — measured 11-17 s for 5k docs at sf0.1 across three
    expression formulations (per-window struct folds, native
    array_min/array_position over slices, one streaming aggregate),
    with the optimizer additionally DISSOLVING lambda-variable
    bindings of the hash array (``transform(array(X), H -> ...)[0]``
    inlines X into every reference — the md5 transform appeared 3x in
    the optimized plan, turning the pass O(chars x w) hashes). The
    Arrow pass computes the identical md5 ints in hashlib and the
    window argmins vectorized in numpy (~10x the best expression
    form). Round 12 batched the kernel itself (r11 verdict item 5):
    md5 runs once per DISTINCT gram in the Arrow batch (np.unique over
    void-viewed byte windows + a cross-batch digest cache — natural
    text repeats k-grams ~200x at k=5) and the window argmin/dedupe
    sweep runs ONCE per batch over a sentinel-separated hash stream
    instead of once per doc — measured 2.1-3.3x on the sf0.1 corpus
    (2.29 s -> 0.70 s warm kernel; A/B in BASELINE.md), bit-identical
    output. Selections are deduped by position adjacency — the
    selected position is non-decreasing across windows (window j+1
    starts one later, so its rightmost minimum never sits left of
    window j's), so equal selections are always contiguous.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k ({k}) and w ({w}) must be >= 1")
    id_type = docs.schema["doc_id"].dataType.simpleString()

    def _select(batches):
        import hashlib
        import re as _re

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        # ASCII \s, matching the Java-regex/RE2 whitespace convention
        # the engine's expression ops and the DuckDB oracle use — the
        # default Unicode-aware \s would strip NBSP/U+2028-style chars
        # only on this side, silently breaking the bit-exact oracle
        # contract on non-ASCII corpora (round-11 advice)
        ws_re = _re.compile(r"\s+", _re.ASCII)
        # gram-digest cache, shared across the whole Arrow batch
        # stream: natural text repeats k-grams heavily (~2-10x at k=5),
        # so hashing each DISTINCT gram once replaces the dominant
        # per-position md5 with a dict hit (A/B in BASELINE.md).
        # Size-capped (round-12 advice): the ~200x repeat ratio is
        # corpus-specific — a high-entropy partition (random-ish text)
        # grows the dict with every distinct gram, so past the cap the
        # cache resets rather than OOM the Python worker; the per-batch
        # np.unique dedup below already carries most of the win.
        cache: dict = {}
        _CACHE_CAP = 2_000_000  # ~(k+~80B)/entry -> low hundreds of MB

        def _fp(gb: bytes) -> int:
            v = cache.get(gb)
            if v is None:
                if len(cache) >= _CACHE_CAP:
                    cache.clear()
                v = int.from_bytes(hashlib.md5(gb).digest()[:8], "big") >> 4
                cache[gb] = v
            return v

        empty = pd.DataFrame(
            {"doc_id": [], "pos": [], "fp": []},
            columns=["doc_id", "pos", "fp"],
        ).astype({"pos": "int64", "fp": "int64"})

        for pdf in batches:
            # pass 1 (the only per-doc Python): strip/lower/encode and
            # stage each doc's gram windows as a C-contiguous void view
            dids: list = []
            ms: list = []
            grams: list = []
            slow_h: dict = {}
            for did, txt in zip(pdf["doc_id"], pdf["__t"]):
                ch = ws_re.sub("", txt or "").lower()
                m = len(ch) - k + 1
                if m < w:
                    continue
                b = ch.encode("utf-8")
                if len(b) == len(ch):
                    # ASCII: byte k-grams == char k-grams
                    win8 = sliding_window_view(
                        np.frombuffer(b, dtype=np.uint8), k
                    )
                    grams.append(
                        np.ascontiguousarray(win8)
                        .view(np.dtype((np.void, k)))
                        .ravel()
                    )
                else:
                    # multi-byte chars: byte windows would split code
                    # points — char-slice per position; the gram cache
                    # still collapses repeats
                    slow_h[len(dids)] = np.fromiter(
                        (_fp(ch[i : i + k].encode("utf-8")) for i in range(m)),
                        dtype=np.int64,
                        count=m,
                    )
                    grams.append(None)
                dids.append(did)
                ms.append(m)
            if not dids:
                yield empty
                continue
            # pass 2: ONE np.unique over every ASCII gram in the batch
            # dedupes before hashing (k-grams of natural text repeat
            # ~200x at k=5 on the sf0.1 corpus: 1.2M grams, 5.5k
            # distinct), so md5 runs per DISTINCT gram; inverse indices
            # restore the per-position hash stream bit-identically
            fast = [g for g in grams if g is not None]
            if fast:
                uniq, inv = np.unique(np.concatenate(fast), return_inverse=True)
                vals = np.fromiter(
                    (_fp(u.tobytes()) for u in uniq),
                    dtype=np.int64,
                    count=len(uniq),
                )
                allh = vals[inv]
            # pass 3: winnow EVERY doc in one numpy sweep — docs are
            # concatenated with w-1 sentinel hashes of -1 between them;
            # -1 always wins the window min (real hashes are 60-bit
            # non-negative), so a window is intra-doc iff its min >= 0
            marr = np.asarray(ms, dtype=np.int64)
            seg = marr + (w - 1)
            stream = np.full(int(seg.sum()), -1, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(seg)[:-1]))
            off = 0
            for i in range(len(dids)):
                m = int(marr[i])
                if grams[i] is None:
                    stream[starts[i] : starts[i] + m] = slow_h[i]
                else:
                    stream[starts[i] : starts[i] + m] = allh[off : off + m]
                    off += m
            win = sliding_window_view(stream, w)
            mins = win.min(axis=1)
            valid = mins >= 0
            # rightmost minimum: first hit in the reversed window
            right = (w - 1) - np.argmax(win[:, ::-1] == mins[:, None], axis=1)
            gpos = np.arange(len(mins), dtype=np.int64) + right
            widx = np.flatnonzero(valid)
            dofw = np.searchsorted(starts, widx, side="right") - 1
            pos = gpos[valid] - starts[dofw]
            fpv = mins[valid]
            # adjacent dedupe: the selected position is non-decreasing
            # within a doc, so equal selections are contiguous
            keep = np.empty(len(pos), dtype=bool)
            if len(pos):
                keep[0] = True
                keep[1:] = (pos[1:] != pos[:-1]) | (dofw[1:] != dofw[:-1])
            sel = dofw[keep]
            # doc_id keeps the caller's id values untouched — its Arrow
            # type comes from the schema string below, so string/int ids
            # both work (round-11 advice: the int64 coercion here made
            # this the one id-type-bound dedup operator)
            dindex = np.asarray(dids, dtype=object)
            yield pd.DataFrame(
                {
                    "doc_id": dindex[sel],
                    "pos": pos[keep],
                    "fp": fpv[keep],
                },
                columns=["doc_id", "pos", "fp"],
            ).astype({"pos": "int64", "fp": "int64"})

    staged = docs.select("doc_id", F.col("text").alias("__t"))
    return staged.mapInPandas(_select, f"doc_id {id_type}, pos long, fp long")


def winnow_matches(
    docs: DataFrame,
    min_shared: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints —
    ``(doc_a, doc_b, shared)`` with ``shared >= min_shared`` distinct
    common fingerprints: the MOSS partial-overlap report (catches a
    copied PASSAGE inside otherwise different docs, which whole-doc
    similarity dilutes away). ``max_fp_df`` drops fingerprints
    appearing in more than that many docs BEFORE pairing — the
    stop-gram cap, same contract as ``substring_runs``'s
    ``max_gram_df``/``video_near_dups``'s ``max_frame_df``.

    Scale shape: the proven shared-hash-set plan (ngram-jaccard /
    video frame silhouette) — fingerprint inventory is zero-shuffle,
    the self-join is keyed on ``fp`` with per-fp candidates bounded by
    C(df_cap, 2), and the pair count is one groupBy with map-side
    partials.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared ({min_shared}) must be >= 1")
    fps = winnow_fingerprints(docs).select("doc_id", "fp").distinct()
    if max_fp_df is not None:
        if max_fp_df < 2:
            raise ValueError(f"max_fp_df ({max_fp_df}) must be >= 2")
        dfc = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
        fps = fps.join(
            dfc.filter(F.col("__df") <= max_fp_df).select("fp"), "fp"
        )
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def dedup_report(docs: DataFrame) -> DataFrame:
    """Per-source mass accounting of the dedup DECISION —
    ``(source, n_docs, n_kept, tokens_total, tokens_kept, drop_rate)``:
    what ``cluster_survivors``' keep/drop verdict actually costs each
    source, in documents and in whitespace tokens. This is the report
    a pipeline reads after a dedup pass and before re-balancing the
    mixture (a source that lost 40% of its tokens to near-dup clusters
    no longer matches its mixing weight — Lee et al. 2022's
    train-side effect surfaced as an explicit number).

    Composition, not new machinery: the verdict is the registered
    ``cluster_survivors`` plan verbatim; this adds one doc-bounded
    join (verdict is (doc_id, keep) — two narrow columns) and one
    group-keyed aggregate with map-side partials. Token counts are
    integers and ``drop_rate`` a single rounded division, so the
    oracle composes the survivors SQL with a plain GROUP BY.
    """
    verdict = cluster_survivors(docs, 0.5, 5).select(F.col("doc_id"), "keep")
    toks = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    ).cast("long")
    staged = docs.select(
        "doc_id", F.col("source"), toks.alias("__nt")
    ).join(verdict, "doc_id")
    agged = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        F.sum("__nt").cast("long").alias("tokens_total"),
        F.sum(F.when(F.col("keep"), F.col("__nt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
    )
    return agged.select(
        "source",
        "n_docs",
        "n_kept",
        "tokens_total",
        "tokens_kept",
        F.round(
            F.lit(1.0) - F.col("n_kept") / F.col("n_docs"), 6
        ).alias("drop_rate"),
    )


# The recall audits' planted twins: ``minhash_recall_report`` and
# ``lsh_expected_recall`` plant the SAME truth set (one salt), and every
# audit shifts twin ids by the same offset.
MHRECALL_SALT = "mhrecall:"
TWIN_OFFSET = 1 << 40


def _planted_twin_corpus(
    docs: DataFrame, drop_rate: float, sample_mod: int, salt: str
) -> tuple[DataFrame, DataFrame]:
    """Shared truth-planting stage of the recall audits
    (``minhash_recall_report`` / ``simhash_recall_report``): every
    ``sample_mod``-th doc gets a deterministically perturbed twin
    (each word dropped on a 52-bit md5 coin keyed (salt, doc,
    position) — the ``weighted_sample`` IEEE-exact construction).
    Returns ``(planted_ids, corpus)``: the sampled originals'
    ``doc_id`` frame, and corpus + twins as ``(doc_id, __text)`` with
    twin ids shifted by ``TWIN_OFFSET``."""
    if not (0.0 <= drop_rate < 1.0):
        raise ValueError(f"drop_rate ({drop_rate}) must be in [0, 1)")
    if sample_mod < 1:
        raise ValueError(f"sample_mod ({sample_mod}) must be >= 1")
    key = F.col("doc_id").cast("long")
    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    staged = docs.filter(key % sample_mod == 0).select(
        key.alias("doc_id"), arr.alias("__toks")
    )

    def coin(i: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(salt),
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("long")
            .cast("double")
            / F.lit(float(1 << 52))
        )

    kept = F.filter(
        F.col("__toks"), lambda x, i: coin(i) >= F.lit(float(drop_rate))
    )
    # the offset lands in a SECOND select: aliasing doc_id + offset AS
    # doc_id in the same projection that evaluates the coin makes the
    # coin key on the SHIFTED id (measured — the same lateral-alias
    # hazard DuckDB has; both sides therefore shift in an outer step)
    twins = staged.select(
        "doc_id", F.array_join(kept, " ").alias("__text")
    ).select(
        (F.col("doc_id") + F.lit(TWIN_OFFSET)).alias("doc_id"), "__text"
    )
    corpus = docs.select(key.alias("doc_id"), F.col("text").alias("__text")).unionAll(
        twins
    )
    return staged.select("doc_id"), corpus


def minhash_recall_report(
    docs: DataFrame,
    drop_rate: float = 0.15,
    sample_mod: int = 10,
    threshold: float = 0.3,
) -> DataFrame:
    """Recall audit of the MinHash+LSH banding — ONE row ``(n_planted,
    n_qualifying, hits, recall)`` — the ``ann_recall_report`` move for
    dedup: LSH recall is band-limited by construction, so a (bands,
    NUM_HASHES, threshold) configuration is UNAUDITED until something
    measures how many true near-dups its bands actually surface.
    This plants the truth: every ``sample_mod``-th doc gets a
    deterministically perturbed twin (each word dropped on a 52-bit
    md5 coin at ``drop_rate`` — the ``weighted_sample`` IEEE-exact
    construction keyed on (``MHRECALL_SALT``, doc, position)), the
    2-gram shingles of the full corpus + twins run through the EXACT
    registered minhash pipeline (``NUM_HASHES`` hashes, 4 bands), and
    recall = found qualifying planted pairs / all qualifying planted
    pairs, where "qualifying" = planted pairs whose exact shingle
    Jaccard clears ``threshold`` (the verify stage keeps them iff the
    bands surface them — so misses are purely banding misses).

    Determinism end to end (perturbation coins, universal-hash
    signatures, band buckets, round-6 Jaccard) means the DuckDB oracle
    replays the whole audit bit-for-bit. ``doc_id`` values must be
    unique, non-negative and < ``TWIN_OFFSET`` (twin ids are
    ``doc_id + TWIN_OFFSET``).

    Scale shape: an EVALUATION operator — run on a sampled plant set
    (``sample_mod``), cost = one extra minhash pass over corpus +
    twins with the same banded/bucketed bounds as the production
    dedup; the shingle table is persisted once and shared by the found
    and qualifying sides, and the 1-row report comes from three tiny
    broadcast-crossed aggregates.
    """
    planted_ids, corpus = _planted_twin_corpus(
        docs, drop_rate, sample_mod, MHRECALL_SALT
    )
    sh = shingles(corpus, 2, "__text").persist()
    try:
        sig = minhash_signatures(sh)
        found = jaccard_verify(
            lsh_bucket_candidates(sig), sh, threshold
        ).select("doc_a", "doc_b")
        planted = planted_ids.select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + F.lit(TWIN_OFFSET)).alias("doc_b"),
        )
        qual = jaccard_verify(planted, sh, threshold).select("doc_a", "doc_b")
        hits = qual.join(found, ["doc_a", "doc_b"])
        rep = (
            planted.agg(F.count(F.lit(1)).alias("n_planted"))
            .crossJoin(
                F.broadcast(qual.agg(F.count(F.lit(1)).alias("n_qualifying")))
            )
            .crossJoin(F.broadcast(hits.agg(F.count(F.lit(1)).alias("hits"))))
            .select(
                "n_planted",
                "n_qualifying",
                "hits",
                F.when(
                    F.col("n_qualifying") > 0,
                    F.round(
                        F.col("hits").cast("double") / F.col("n_qualifying"), 6
                    ),
                )
                .otherwise(F.lit(None).cast("double"))
                .alias("recall"),
            )
        )
        return rep.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def simhash_recall_report(
    docs: DataFrame,
    drop_rate: float = 0.3,
    sample_mod: int = 10,
    max_hamming: int = 8,
) -> DataFrame:
    """Recall audit of the SimHash chunk banding — ONE row
    ``(n_planted, n_qualifying, hits, recall)`` — the
    ``minhash_recall_report`` twin for the hamming side of the dedup
    stack. The pigeonhole guarantee is exact only up to
    ``HAMMING_CHUNKS - 1`` differing bits; every production run at
    ``max_hamming >= HAMMING_CHUNKS``
    (the documented "larger max_hamming trades recall" regime of
    ``simhash_near_dups``) is UNAUDITED until something measures how
    many true close pairs the equal-chunk candidates actually surface.
    This plants them: every ``sample_mod``-th doc gets the same
    deterministic word-drop twin as the minhash audit (shared
    ``_planted_twin_corpus`` construction, its own ``shrecall:``
    salt), corpus +
    twins run through the EXACT registered fingerprint + banding
    pipeline, and recall = found qualifying planted pairs / all
    qualifying planted pairs, where "qualifying" = planted pairs whose
    exact fingerprint hamming distance is <= ``max_hamming`` — so
    misses are purely banding misses. A twin perturbed to emptiness
    has no tokens, hence no fingerprint row, and drops out of the
    qualifying side (same contract as the minhash audit's empty-twin
    shingles).

    Determinism end to end (drop coins, md5 token hashes, integer
    votes, integer hamming) — the DuckDB oracle replays the audit
    bit-for-bit with no float anywhere. Scale shape: one extra simhash
    pass over corpus + twins (the fingerprint table is persisted and
    shared by the found and qualifying sides), banding bounded exactly
    as production, and the 1-row report from three tiny
    broadcast-crossed aggregates.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming ({max_hamming}) must be >= 0")
    planted_ids, corpus = _planted_twin_corpus(
        docs, drop_rate, sample_mod, "shrecall:"
    )
    fp = simhash(corpus, "__text").persist()
    try:
        found = hamming_band_pairs(
            fp, "simhash", max_hamming, SIMHASH_BITS
        ).select("doc_a", "doc_b")
        planted = planted_ids.select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + F.lit(TWIN_OFFSET)).alias("doc_b"),
        )
        qual = (
            planted.join(
                fp.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("simhash").alias("__sa"),
                ),
                "doc_a",
            )
            .join(
                fp.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("simhash").alias("__sb"),
                ),
                "doc_b",
            )
            .filter(
                F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
                <= max_hamming
            )
            .select("doc_a", "doc_b")
        )
        hits = qual.join(found, ["doc_a", "doc_b"])
        rep = (
            planted.agg(F.count(F.lit(1)).alias("n_planted"))
            .crossJoin(
                F.broadcast(qual.agg(F.count(F.lit(1)).alias("n_qualifying")))
            )
            .crossJoin(F.broadcast(hits.agg(F.count(F.lit(1)).alias("hits"))))
            .select(
                "n_planted",
                "n_qualifying",
                "hits",
                F.when(
                    F.col("n_qualifying") > 0,
                    F.round(
                        F.col("hits").cast("double") / F.col("n_qualifying"), 6
                    ),
                )
                .otherwise(F.lit(None).cast("double"))
                .alias("recall"),
            )
        )
        return rep.localCheckpoint(eager=True)
    finally:
        fp.unpersist()


def lsh_expected_recall(
    docs: DataFrame,
    configs: tuple = ((8, 2), (16, 4), (32, 8)),
    threshold: float = 0.3,
    drop_rate: float = 0.15,
    sample_mod: int = 10,
) -> DataFrame:
    """The LSH S-curve read BEFORE committing to a banding config —
    one row per ``(num_hashes, bands)`` candidate: ``(num_hashes,
    bands, rows_per_band, n_qualifying, expected_recall,
    s50_similarity)``. ``minhash_recall_report`` measures the recall
    a config REALIZED; this predicts what each candidate config WOULD
    realize on the same planted truth, analytically — a pair with
    exact Jaccard ``s`` collides in a band of ``r`` rows with
    probability ``s^r`` and in at least one of ``b`` bands with
    ``1 - (1 - s^r)^b`` (the standard LSH amplification identity,
    Leskovec/Rajaraman/Ullman ch. 3) — so sweeping configs costs ONE
    shingle pass total, not one banding run per config.

    ``expected_recall`` = mean of that detection probability over the
    qualifying planted pairs (exact Jaccard >= ``threshold``; the same
    word-drop planting as the audits, shared ``_planted_twin_corpus``
    with ``MHRECALL_SALT`` so predicted and realized numbers describe
    the SAME truth set). ``s50_similarity`` = ``(1/b)^(1/r)``, the
    config's S-curve midpoint — where detection crosses 50%.

    Cross-engine exactness: ``s`` is the round-6 Jaccard; powers are
    UNROLLED left-associated multiplication chains (never libm pow —
    its last bit is engine-dependent); each per-pair probability is
    rounded 6 and scaled to an exact BIGINT before the mean (the
    margin_matches integer-sum trick), and ``s50`` enters both plans
    as a Python-computed literal. Scale: one shingle pass + one
    planted-pair Jaccard, then len(configs) tiny aggregates over the
    persisted sample-sized pair table.
    """
    if not configs:
        raise ValueError("configs must be non-empty")
    for nh, b in configs:
        if b < 1 or nh < 1 or nh % b != 0:
            raise ValueError(
                f"config ({nh}, {b}): bands must divide num_hashes, both >= 1"
            )
        if nh // b > 64:
            raise ValueError(
                f"config ({nh}, {b}): rows_per_band {nh // b} > 64 — the "
                "unrolled power chain is capped"
            )
    planted_ids, corpus = _planted_twin_corpus(
        docs, drop_rate, sample_mod, MHRECALL_SALT
    )
    sh = shingles(corpus, 2, "__text").persist()
    try:
        planted = planted_ids.select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + F.lit(TWIN_OFFSET)).alias("doc_b"),
        )
        qual = jaccard_verify(planted, sh, threshold).persist()
        try:
            parts = []
            for nh, b in configs:
                r = nh // b
                s = F.col("jaccard")
                sr = s
                for _ in range(r - 1):
                    sr = sr * s
                miss = F.lit(1.0) - sr
                missb = miss
                for _ in range(b - 1):
                    missb = missb * miss
                p6 = F.round(F.lit(1.0) - missb, 6)
                pi = F.round(p6 * 1000000, 0).cast("long")
                s50 = round((1.0 / b) ** (1.0 / r), 6)
                parts.append(
                    qual.select(pi.alias("__pi"))
                    .agg(
                        F.count(F.lit(1)).alias("__n"),
                        F.sum("__pi").alias("__s"),
                    )
                    .select(
                        F.lit(int(nh)).alias("num_hashes"),
                        F.lit(int(b)).alias("bands"),
                        F.lit(int(r)).alias("rows_per_band"),
                        F.col("__n").cast("long").alias("n_qualifying"),
                        F.round(
                            F.try_divide(
                                F.col("__s").cast("double"),
                                F.col("__n").cast("double") * 1000000,
                            ),
                            6,
                        ).alias("expected_recall"),
                        F.lit(float(s50)).alias("s50_similarity"),
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            return out.localCheckpoint(eager=True)
        finally:
            qual.unpersist()
    finally:
        sh.unpersist()
