"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

Extensions beyond the reference surface (SURVEY.md §7 step 6). All
pure column expressions (JVM-side, codegen'd, oracle-reproducible):
narrow per-row transforms, no shuffles — at 100 TB these run at scan
speed with full column pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish piece pattern: letter runs, digit runs, single punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: marker stopwords per language for the n-gram/marker lang-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "fr": ["le", "la", "et", "les", "est"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "in", "to", "it"]

FINGERPRINT_BASE = 131
FINGERPRINT_MOD = 1_000_000_007


def _check_keep_cols(kept_names: list[str], reserved: set, op: str) -> None:
    """Fail-loud validation shared by every keep_cols passthrough:
    collisions with the operator's OUTPUT columns, with the ``doc_id``
    key the operator emits itself, or WITHIN keep_cols (a duplicate
    name) would all surface later as a downstream AMBIGUOUS_REFERENCE
    miles from the call site (round-7 advice) — raise here instead."""
    dupes = sorted({n for n in kept_names if kept_names.count(n) > 1})
    if dupes:
        raise ValueError(
            f"keep_cols contains duplicate names {dupes}; alias them apart"
        )
    clash = sorted(set(kept_names) & (reserved | {"doc_id"}))
    if clash:
        raise ValueError(
            f"keep_cols {clash} collide with {op} output columns "
            "(doc_id is always emitted by the operator itself); "
            "alias the input columns apart"
        )


def _tokens() -> Column:
    return F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace-token and BPE-ish piece counts per doc:
    ``(doc_id, n_tokens, n_pieces, avg_token_len)``."""
    # Stage the token array as a named column: a repeated inline
    # filter(split(...)) expression is re-evaluated per reference
    # (CollapseProject keeps the staging Project precisely because the
    # expression is non-cheap and multiply referenced).
    staged = docs.select(
        "doc_id",
        F.col("text").alias("_text"),
        _tokens().alias("_toks"),
    )
    n_tokens = F.size("_toks")
    total_len = F.aggregate(F.col("_toks"), F.lit(0), lambda acc, w: acc + F.length(w))
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("_text"), F.lit(BPE_RE), 0)).alias(
            "n_pieces"
        ),
        F.round(
            F.when(n_tokens > 0, total_len.cast("double") / n_tokens).otherwise(0.0), 6
        ).alias("avg_token_len"),
    )


def quality_scores(
    docs: DataFrame,
    keep_cols: tuple = (),
    with_tokens: bool = False,
    score_only: bool = False,
) -> DataFrame:
    """Heuristic quality features + combined score per doc:
    ``(doc_id, [keep_cols...], [n_tokens,] n_chars, punct_ratio,
    stopword_ratio, quality)`` — or just ``(doc_id, [keep_cols...],
    [n_tokens,] quality)`` with ``score_only=True``.

    quality = 0.4*min(1, n_tokens/100) + 0.3*(1-punct_ratio)
            + 0.3*(1-stopword_ratio) — a simple monotone combination of
    the classic heuristics; rounded 6.

    ``keep_cols`` (column names or Column expressions) ride through the
    single narrow pass so aggregating/filtering consumers
    (corpus_report, clean_corpus) never need a corpus-vs-corpus doc_id
    join back to the source table — quality is a projection of the
    same row, not a separate dataset. ``with_tokens`` additionally
    exposes the whitespace token count. ``score_only=True`` is the
    FILTER-CONSUMER mode: it drops the feature columns from the
    output, which is what lets an input table that itself has an
    ``n_chars``/``punct_ratio``-named column pass through keep_cols
    without an ambiguous-reference collision (the bug a full-schema
    sf0.1 corpus exposed: documents ships its own n_chars). In full
    mode a colliding keep_col raises immediately instead of producing
    a duplicate-named output.
    """
    # Internal staging names are _q_-prefixed so kept PAYLOAD columns
    # can never collide with the feature computation itself.
    feature_out = (
        () if score_only else ("n_chars", "punct_ratio", "stopword_ratio")
    )
    reserved = set(feature_out) | {"quality"} | (
        {"n_tokens"} if with_tokens else set()
    )
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    staged = docs.select(
        "doc_id",
        *kept,
        F.size(_tokens()).alias("_q_n_tokens"),
        F.length(F.col("text")).alias("_q_n_chars"),
        F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")).alias(
            "_q_punct"
        ),
        F.size(
            F.filter(_tokens(), lambda w: F.lower(w).isin(STOPWORDS))
        ).alias("_q_stop"),
    )
    kept_names = [
        c if isinstance(c, str) else staged.columns[1 + i]
        for i, c in enumerate(keep_cols)
    ]
    _check_keep_cols(kept_names, reserved, "quality_scores")
    n_tokens = F.col("_q_n_tokens")
    punct_ratio = F.when(
        F.col("_q_n_chars") > 0,
        F.col("_q_punct").cast("double") / F.col("_q_n_chars"),
    ).otherwise(0.0)
    stop_ratio = F.when(
        n_tokens > 0, F.col("_q_stop").cast("double") / n_tokens
    ).otherwise(0.0)
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens.cast("double") / 100)
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
    )
    return staged.select(
        "doc_id",
        *kept_names,
        *([F.col("_q_n_tokens").cast("long").alias("n_tokens")] if with_tokens else []),
        *(
            []
            if score_only
            else [
                F.col("_q_n_chars").alias("n_chars"),
                F.round(punct_ratio, 6).alias("punct_ratio"),
                F.round(stop_ratio, 6).alias("stopword_ratio"),
            ]
        ),
        F.round(quality, 6).alias("quality"),
    )


def lang_id(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Marker-word language-ID heuristic: ``(doc_id, [keep_cols...],
    pred_lang, score)``.

    Scores each language by marker-token hits; predicts the max-scoring
    language (ties: lexicographically first; all-zero: 'unknown'). A
    real pipeline swaps the markers for char-n-gram profiles — the
    dataflow (narrow scan-side classify) is the deliverable.
    ``keep_cols`` rides input columns through the pass so filtering
    consumers (clean_corpus) never join the verdict back by doc_id.
    """
    # Stage 1: tokenize once. Stage 2: one score column per language
    # (each scans the staged array once). Stage 3: argmax over the
    # named score columns — the CASE chain references every score 2-3
    # times, which would re-split the text ~20x per row if inlined.
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    toks = docs.select("doc_id", *kept, _tokens().alias("_toks"))
    kept_names = [
        c if isinstance(c, str) else toks.columns[1 + i]
        for i, c in enumerate(keep_cols)
    ]
    _check_keep_cols(kept_names, {"pred_lang", "score"}, "lang_id")

    def marker_hits(markers: list[str]) -> Column:
        # NB: the filter lambda must be single-parameter — a second
        # parameter would be interpreted as the element index.
        return F.size(F.filter(F.col("_toks"), lambda w: F.lower(w).isin(markers)))

    scored = toks.select(
        "doc_id",
        *kept_names,
        *[
            marker_hits(markers).alias(f"_s_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    scores = {lang: F.col(f"_s_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    # build the CASE from last to first so earlier langs win ties
    for lang in sorted(scores, reverse=True):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id",
        *kept_names,
        pred.alias("pred_lang"),
        best.cast("int").alias("score"),
    )


def repetition_ratio(
    docs: DataFrame,
    ngram: int = 2,
    keep_cols: tuple = (),
) -> DataFrame:
    """Within-document n-gram repetition (the Gopher/C4-style quality
    signal: boilerplate and generated spam repeat themselves):
    ``(doc_id, n_ngrams, n_distinct, repetition_ratio)`` with
    repetition_ratio = 1 - distinct/total (0 for docs too short to
    form an n-gram).

    Narrow per-row array math — tokens -> n-gram array (duplicates
    KEPT, unlike dedup.shingles) -> size vs array_distinct size. Zero
    shuffles; at 100 TB this runs at scan speed alongside the other
    quality features. ``keep_cols`` rides input columns through (see
    quality_scores) so filter consumers skip the doc_id join-back.
    """
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    staged = docs.select("doc_id", *kept, _tokens().alias("_toks"))
    kept_names = [
        c if isinstance(c, str) else staged.columns[1 + i]
        for i, c in enumerate(keep_cols)
    ]
    _check_keep_cols(
        kept_names,
        {"n_ngrams", "n_distinct", "repetition_ratio"},
        "repetition_ratio",
    )
    grams = F.when(
        F.size("_toks") >= ngram,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - ngram + 1),
            lambda i: F.array_join(F.slice("_toks", i, ngram), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = staged.select("doc_id", *kept_names, grams.alias("_grams"))
    n_g = F.size("_grams")
    n_d = F.size(F.array_distinct("_grams"))
    rep = F.when(
        n_g > 0, F.lit(1.0) - n_d.cast("double") / n_g.cast("double")
    ).otherwise(F.lit(0.0))
    return g.select(
        "doc_id",
        *kept_names,
        n_g.alias("n_ngrams"),
        n_d.alias("n_distinct"),
        F.round(rep, 6).alias("repetition_ratio"),
    )


def top_ngram_stats(docs: DataFrame) -> DataFrame:
    """The Gopher-style TOP-n-gram coverage rule (repetition_ratio's
    sibling: that one scores how much of the doc repeats at all, this
    one scores how much ONE phrase dominates — boilerplate headers and
    generated loops concentrate mass on a single bigram): per doc, the
    most frequent word bigram (duplicates kept, ties to the lexicographically
    smallest gram) and the fraction of the doc's n-grams it accounts
    for: ``(doc_id, top_gram, top_cnt, n_ngrams, top_frac)``. Docs too
    short to form an n-gram emit no row.

    Shape: gram explode -> (doc, gram) count -> per-doc top-1 via a
    row_number window (WindowGroupLimit prunes per-partition before
    the shuffle) + a per-doc total riding the same counted table — the
    tf-idf-style two-shuffle silhouette, nothing quadratic.
    """
    staged = docs.select("doc_id", _tokens().alias("_toks"))
    grams = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 2 + 1),
            lambda i: F.array_join(F.slice("_toks", i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        staged.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    top = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", F.col("gram").alias("top_gram"), F.col("cnt").alias("top_cnt"))
    )
    totals = counts.groupBy("doc_id").agg(F.sum("cnt").alias("n_ngrams"))
    return top.join(totals, "doc_id").select(
        "doc_id",
        "top_gram",
        "top_cnt",
        "n_ngrams",
        F.round(
            F.col("top_cnt").cast("double") / F.col("n_ngrams").cast("double"), 6
        ).alias("top_frac"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Word-level polynomial rolling hash per doc (Karp-Rabin style):
    ``(doc_id, fingerprint)``.

    h = fold(h*131 + hash28(word) mod 1e9+7) over tokens in order —
    order-sensitive (unlike the md5 content hash in dedup.exact_dedup),
    so reordered documents fingerprint differently. hash28 = first 7
    md5 hex digits; every step stays < 2^40 (no overflow in either
    engine).
    """
    word_h = lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long")  # noqa: E731
    fp = F.aggregate(
        F.transform(_tokens(), word_h),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FINGERPRINT_BASE + h) % FINGERPRINT_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def lm_scores(docs: DataFrame) -> DataFrame:
    """Unigram-LM surprisal per document — the classic cheap quality /
    outlier signal (a doc whose words are rare under the corpus' own
    unigram distribution is boilerplate-free gibberish or off-domain):
    ``(doc_id, n_tokens, nll)`` with ``nll`` = mean over the doc's
    token occurrences of ``-log10(count(word)/total_tokens)``, rounded
    to 6 digits. Zero-token docs are dropped (no distribution to score
    them under).

    Scale shape: one tokenize explode (narrow) -> word counts (ONE
    shuffle with map-side partial agg) -> total-token scalar as a
    broadcast 1-row aggregate (never a driver collect) -> join token
    occurrences back on word (the word-count side is vocabulary-sized;
    AQE broadcasts it when it fits, shuffles otherwise) -> per-doc mean
    (second shuffle). The same two-shuffle silhouette as tf-idf, which
    is what this is: a probability-normalized df table.
    """
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    wc = tok.groupBy("word").agg(F.count(F.lit(1)).alias("wcnt"))
    total = wc.agg(F.sum("wcnt").alias("__total"))
    scored = (
        tok.join(wc, "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log10(F.col("wcnt").cast("double") / F.col("__total"))).alias(
                "surprisal"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("surprisal") / F.count(F.lit(1)), 6).alias("nll"),
    )


def bigram_lm_scores(docs: DataFrame, add_k: float = 1.0) -> DataFrame:
    """Bigram-LM (add-k smoothed) perplexity per document — the CCNet-
    style LM quality filter one order up from ``lm_scores``' unigram
    surprisal (CCNet/RefinedWeb score pages under a corpus-trained LM
    and keep the low-perplexity head; a bigram model is the smallest
    LM that sees word ORDER, so shuffled-token spam that fools the
    unigram filter scores badly here): ``(doc_id, n_bigrams, nll)``
    with ``nll`` = mean over the doc's adjacent token pairs of
    ``-log10 P(w2|w1)``, rounded 6, where
    ``P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)`` — ``c`` corpus-wide
    bigram/history counts from the SAME corpus being scored (the
    self-scoring convention of ``lm_scores``), ``V`` the corpus
    unigram vocabulary size, ``k = add_k``. Docs with fewer than two
    tokens are dropped (no bigram to score them under).

    Scale shape: one per-row adjacent-pair build (narrow — NO
    positional self-join) -> bigram explode -> c2/c1 counts (ONE
    token-volume shuffle each with map-side partial agg; c1 sums c2's
    rows, vocabulary-bounded) -> the logp of each DISTINCT bigram
    computed once on the count table (vocab-bounded join on w1, V a
    broadcast 1-row aggregate) -> occurrences join the scored-bigram
    table on (w1, w2) (AQE broadcasts it when it fits, shuffles
    co-keyed otherwise) -> per-doc mean (doc-bounded shuffle). The
    tf-idf silhouette with one extra vocab-sized hop.
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    bi = doc_bigrams(docs)
    scored = bigram_surprisal_table(docs, add_k=add_k, bigrams=bi)
    return _score_bigram_docs(bi, scored)


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """Per-row adjacent token pairs → ``(doc_id, w1, w2)`` — a NARROW
    transform (tokenize + array build + explode, no shuffle), so it
    works unchanged on a STREAMING frame (the streaming_lm_probe
    path)."""
    toks = _tokens()
    staged = docs.select("doc_id", toks.alias("__t"))
    return staged.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.struct(
                        F.get("__t", i - 1).alias("w1"),
                        F.get("__t", i).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")


def bigram_surprisal_table(
    docs: DataFrame,
    add_k: float = 1.0,
    bigrams: DataFrame | None = None,
) -> DataFrame:
    """The trained bigram LM as a TABLE → ``(w1, w2, surprisal)`` with
    ``surprisal = -log10 (c2+k)/(c1+k·V)`` over ``docs``' own counts —
    the model artifact ``bigram_lm_scores`` joins against, exposed so
    serving paths (the streaming probe) can train once on a batch
    corpus and score streams statelessly against the vocab-bounded
    result. ``bigrams`` (optional) reuses an already-built
    ``doc_bigrams`` frame so the batch scorer keeps its single
    bigram-build plan."""
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    toks = _tokens()
    staged = docs.select(toks.alias("__t"))
    if bigrams is None:
        bigrams = doc_bigrams(docs)
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = staged.select(F.explode("__t").alias("w")).agg(
        F.count_distinct("w").alias("__v")
    )
    return (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                -F.log10(
                    (F.col("c2") + F.lit(float(add_k)))
                    / (F.col("c1") + F.lit(float(add_k)) * F.col("__v"))
                )
            ).alias("surprisal"),
        )
    )


def _score_bigram_docs(bi: DataFrame, scored: DataFrame) -> DataFrame:
    """Join per-doc bigram occurrences to a scored-bigram table and
    reduce to ``(doc_id, n_bigrams, nll)`` — shared by the batch
    scorer and the streaming probe (identical rounding, so they share
    one oracle)."""
    return bi.join(scored, ["w1", "w2"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("surprisal") / F.count(F.lit(1)), 6).alias("nll"),
    )


def entropy_stats(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Character-distribution stats per doc — the classic cheap
    compressibility proxy (machine-generated/binary-ish junk sits at
    the entropy extremes; English prose lands ~4-4.5 bits/char):
    ``(doc_id, [keep_cols...], n_chars, n_distinct_chars,
    char_entropy)`` with ``char_entropy`` the Shannon entropy in bits
    of the doc's own character distribution,
    ``-Σ_c (n_c/n)·log2(n_c/n)``, rounded 6; empty docs report zeros.

    Scale shape: ZERO shuffle — a per-row sort + single left fold over
    the doc's own characters (run boundaries emit one entropy term per
    DISTINCT char, the ``gopher_repetition`` adjacency idiom), so the
    pass runs at scan speed with full column pruning.
    """
    _check_keep_cols(
        [c for c in keep_cols if isinstance(c, str)],
        {"n_chars", "n_distinct_chars", "char_entropy"},
        "entropy_stats",
    )
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    staged = docs.select(
        "doc_id",
        *kept,
        # split("", "") yields [""] — drop empties so a blank doc
        # reports n_chars 0, not 1
        F.array_sort(
            F.filter(F.split(F.col("text"), ""), lambda c: c != "")
        ).alias("__cs"),
    )
    n = F.size("__cs")
    # fold state: (prev char, current run length, distinct-run count,
    # accumulated Σ run·log2(run)); entropy = log2(n) - acc/n, the
    # algebraic rearrangement that needs only per-run totals
    folded = F.aggregate(
        "__cs",
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("dis"),
            F.lit(0.0).alias("acc"),
        ),
        lambda st, ch: F.struct(
            ch.alias("prev"),
            F.when(ch.eqNullSafe(st["prev"]), st["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            (
                st["dis"]
                + F.when(ch.eqNullSafe(st["prev"]), F.lit(0)).otherwise(
                    F.lit(1)
                )
            ).alias("dis"),
            (
                st["acc"]
                + F.when(
                    ch.eqNullSafe(st["prev"]),
                    # run grows r-1 -> r: add r·log2(r) - (r-1)·log2(r-1)
                    (st["run"] + 1) * F.log2((st["run"] + 1).cast("double"))
                    - F.when(
                        st["run"] > 1,
                        st["run"] * F.log2(st["run"].cast("double")),
                    ).otherwise(F.lit(0.0)),
                ).otherwise(F.lit(0.0))
            ).alias("acc"),
        ),
    )
    staged = staged.withColumn("__f", folded)
    entropy = F.when(
        n > 0, F.round(F.log2(n.cast("double")) - F.col("__f")["acc"] / n, 6)
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        *[c for c in staged.columns if c not in {"doc_id", "__cs", "__f"}],
        n.alias("n_chars"),
        F.col("__f")["dis"].cast("int").alias("n_distinct_chars"),
        entropy.alias("char_entropy"),
    )


def readability_scores(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per doc (Flesch
    1948 / Kincaid et al. 1975, public) — the classic complexity axis
    the length/punct/stopword quality score does not measure (a wall
    of 40-word sentences and a children's primer can carry identical
    ``quality_scores``): ``(doc_id, [keep_cols...], n_sentences,
    n_words, n_syllables, words_per_sentence, syllables_per_word,
    flesch_reading_ease, fk_grade)``.

    Counting conventions, pinned for the cross-engine hash:
    words = whitespace tokens (the engine's tokenizer); sentences =
    maximal runs of ``[.!?]`` (a doc with words but no terminal
    punctuation is ONE sentence); syllables = the vowel-GROUP
    heuristic — maximal runs of ``[aeiouy]`` in the lowercased text
    (vowel runs cannot span whitespace, so the text-level count equals
    the per-word sum; the silent-e correction is deliberately omitted:
    it needs per-word suffix logic for ~2% accuracy on a signal used
    as a relative filter axis). ``flesch_reading_ease`` =
    ``206.835 - 1.015·(words/sentence) - 84.6·(syllables/word)`` and
    ``fk_grade`` = ``0.39·(words/sentence) + 11.8·(syllables/word) -
    15.59``, each a fixed left-associated chain of IEEE ops on two
    exact-integer divisions, rounded 6 — the SQL oracle replays the
    doubles bit-for-bit. Empty docs report zero counts and NULL
    scores (no prose, no grade).

    Scale shape: ZERO shuffle — three regexp counts and two divisions
    per row, full column pruning, scan-speed.
    """
    _check_keep_cols(
        [c for c in keep_cols if isinstance(c, str)],
        {
            "n_sentences",
            "n_words",
            "n_syllables",
            "words_per_sentence",
            "syllables_per_word",
            "flesch_reading_ease",
            "fk_grade",
        },
        "readability_scores",
    )
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    staged = docs.select(
        "doc_id",
        *kept,
        F.size(_tokens()).cast("long").alias("n_words"),
        F.size(
            F.expr("regexp_extract_all(text, '[.!?]+', 0)")
        ).cast("long").alias("__term_runs"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
        ).cast("long").alias("n_syllables"),
    )
    n_sent = F.when(
        F.col("n_words") > 0, F.greatest(F.col("__term_runs"), F.lit(1))
    ).otherwise(F.lit(0)).cast("long")
    staged = staged.withColumn("n_sentences", n_sent)
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    has = F.col("n_words") > 0
    return staged.select(
        "doc_id",
        *[
            c
            for c in staged.columns
            if c not in {"doc_id", "__term_runs", "n_words", "n_syllables",
                         "n_sentences"}
        ],
        "n_sentences",
        "n_words",
        "n_syllables",
        F.when(has, F.round(wps, 6)).alias("words_per_sentence"),
        F.when(has, F.round(spw, 6)).alias("syllables_per_word"),
        F.when(
            has,
            F.round(
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
            ),
        ).alias("flesch_reading_ease"),
        F.when(
            has,
            F.round(
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
            ),
        ).alias("fk_grade"),
    )


def oov_stats(docs: DataFrame, top_k: int = 1000) -> DataFrame:
    """Out-of-vocabulary rate per doc against the corpus' OWN head
    vocabulary — ``(doc_id, n_tokens, n_oov, oov_ratio)`` where a
    token is OOV when its lowercased form is outside the ``top_k``
    most frequent lowercased tokens of the corpus (ties at the
    boundary broken by the word ascending, so the vocabulary is
    deterministic). The "unusual token fraction" quality axis of the
    classic web-corpus filters: gibberish, code-in-prose, boilerplate
    and wrong-language docs all spike it, while ``quality_scores``'
    stopword ratio only sees one fixed list.

    Scale shape: the vocabulary is ONE (word)-keyed count (map-side
    partials, vocab-bounded output) pruned to ``top_k`` via
    orderBy+limit — TakeOrderedAndProject, every partition pre-prunes
    its own top-k, never a single-task global window and never a
    collect; scoring is one explode + BROADCAST vocab join (top_k rows
    by construction) + doc-keyed count — the ``doc_word_count``
    shuffle shape. ``explode_outer`` keeps empty docs in the result
    (zero counts, 0.0 ratio) without any doc_id join-back.
    """
    if top_k < 1:
        raise ValueError(f"top_k ({top_k}) must be >= 1")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    tok = docs.select(
        "doc_id",
        F.explode_outer(toks).alias("__w"),
    ).select("doc_id", F.lower("__w").alias("__w"))
    vocab = (
        tok.filter(F.col("__w").isNotNull())
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__w"))
        .limit(int(top_k))
        .select("__w", F.lit(True).alias("__known"))
    )
    j = tok.join(F.broadcast(vocab), "__w", "left")
    out = j.groupBy("doc_id").agg(
        F.count("__w").alias("n_tokens"),
        (F.count("__w") - F.count("__known")).alias("n_oov"),
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("oov_ratio"),
    )


#: the stopword list of the Gopher rule set (Rae et al. 2021,
#: App. A1.1: "the, be, to, of, and, that, have, with")
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021,
    Appendix A — the published filter battery most large text
    pipelines start from), as ONE zero-shuffle pass of pure column
    expressions: ``(doc_id, [keep_cols...], n_words, mean_word_len,
    symbol_ratio, bullet_ratio, ellipsis_ratio, alpha_word_ratio,
    stopword_hits, keep)`` with ``keep`` the conjunction of the
    paper's bounds:

    - ``50 <= n_words <= 100,000``
    - mean word length in ``[3, 10]``
    - symbol-to-word ratio (``#`` and ``...``) ``<= 0.1``
    - ``<= 0.9`` of lines starting with a bullet
      (``-``, ``*``, or the bullet glyph)
    - ``<= 0.3`` of lines ending with ``...``
    - ``>= 0.8`` of words containing a letter
    - ``>= 2`` DISTINCT GOPHER_STOPWORDS present
      (the paper's "at least two of the following words" — a doc
      repeating one stopword counts it once)

    Every ratio is rounded to 6 digits BEFORE its comparison, so the
    keep verdict is bit-deterministic across engines and a SQL oracle
    can mirror boundary cases exactly. Empty documents fail ``keep``
    with zeroed metrics rather than nulls. ``keep_cols`` ride through
    the same narrow pass (the quality_scores contract) so filtering
    consumers never join back to the source.
    """
    metrics = (
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_ratio",
        "ellipsis_ratio",
        "alpha_word_ratio",
        "stopword_hits",
    )
    _check_keep_cols(
        [c for c in keep_cols if isinstance(c, str)],
        set(metrics) | {"keep"},
        "gopher_rules",
    )
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    toks = _tokens()
    lines = F.filter(F.split(F.col("text"), r"\n"), lambda ln: F.trim(ln) != "")
    staged = docs.select(
        "doc_id",
        *kept,
        toks.alias("_g_toks"),
        lines.alias("_g_lines"),
        F.length("text").alias("_g_len"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"#", ""))
        ).alias("_g_hashes"),
        (
            (
                F.length("text")
                - F.length(
                    F.regexp_replace(F.col("text"), r"\.\.\.", "")
                )
            )
            / F.lit(3)
        ).cast("long").alias("_g_ellipses"),
    )
    n_words = F.size("_g_toks")
    n_lines = F.size("_g_lines")
    safe = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6
    )
    word_chars = F.aggregate(
        "_g_toks", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    alpha_words = F.size(
        F.filter("_g_toks", lambda w: w.rlike("[A-Za-z]"))
    )
    # DISTINCT stopwords present, not total occurrences: Rae et al.'s
    # rule is "at least two of the following words", so a doc chanting
    # one stopword ("the ... the") scores 1, not its repeat count
    # (array_intersect dedupes on both engines)
    stop_hits = F.size(
        F.array_intersect(
            F.transform("_g_toks", F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    bullet_lines = F.size(
        F.filter(
            "_g_lines",
            lambda ln: F.trim(ln).rlike("^([-*•])"),
        )
    )
    ellipsis_lines = F.size(
        F.filter("_g_lines", lambda ln: F.trim(ln).rlike("\\.\\.\\.$"))
    )
    out = staged.select(
        "doc_id",
        *[c for c in staged.columns if c not in {
            "doc_id", "_g_toks", "_g_lines", "_g_len", "_g_hashes",
            "_g_ellipses",
        }],
        n_words.alias("n_words"),
        safe(word_chars, n_words).alias("mean_word_len"),
        safe(F.col("_g_hashes") + F.col("_g_ellipses"), n_words).alias(
            "symbol_ratio"
        ),
        safe(bullet_lines, n_lines).alias("bullet_ratio"),
        safe(ellipsis_lines, n_lines).alias("ellipsis_ratio"),
        safe(alpha_words, n_words).alias("alpha_word_ratio"),
        stop_hits.alias("stopword_hits"),
    )
    keep = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_ratio") <= 0.9)
        & (F.col("ellipsis_ratio") <= 0.3)
        & (F.col("alpha_word_ratio") >= 0.8)
        & (F.col("stopword_hits") >= 2)
    )
    return out.withColumn("keep", keep)


def c4_rules(
    docs: DataFrame,
    keep_cols: tuple = (),
    min_words_per_line: int = 3,
    bad_words: tuple = (),
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2 — the
    line-level half of the published-filter canon; ``gopher_rules`` is
    the document-level half), as ONE zero-shuffle pass of pure column
    expressions: ``(doc_id, [keep_cols...], clean_text, n_lines_kept,
    keep)``.

    Line level (a line SURVIVES into ``clean_text`` iff all hold):
    - ends in a terminal punctuation mark (``.``, ``!``, ``?``, or a
      closing quote after one) — trailing whitespace ignored;
    - has >= ``min_words_per_line`` whitespace words;
    - does not contain the word "javascript" (the paper's rule,
      matched case-insensitively as a substring, the common public
      reading).

    Page level (``keep``):
    - >= 5 surviving lines (each surviving line ends in terminal
      punctuation, so surviving-line count is this implementation's
      sentence count — documented proxy; the paper counts sentences,
      splitting on the same marks);
    - neither "lorem ipsum" nor the curly brace occurs in the ORIGINAL
      text, matched case-insensitively (the paper's page rules);
    - no word of ``bad_words`` occurs (case-insensitive whole-word).
      The paper uses an external blocklist; none ships here, so the
      default is empty — pass your own.

    Surviving lines re-join with ``\\n`` in original order. Dropped
    pages still report their ``clean_text`` (the paper discards them;
    ``clean_corpus``-style consumers filter on ``keep``). keep is int
    0/1 (hash-gate form).
    """
    reserved = {"clean_text", "n_lines_kept", "keep"}
    _check_keep_cols(
        [c for c in keep_cols if isinstance(c, str)], reserved, "c4_rules"
    )
    if min_words_per_line < 1:
        raise ValueError(
            f"min_words_per_line ({min_words_per_line}) must be >= 1"
        )
    kept_cols = [F.col(c) if isinstance(c, str) else c for c in keep_cols]

    term = r'[.!?]["’”]?\s*$'
    lines = F.split(F.col("text"), r"\n")
    n_words = lambda ln: F.size(  # noqa: E731
        F.filter(F.split(F.trim(ln), r"\s+"), lambda w: w != "")
    )
    survives = lambda ln: (  # noqa: E731
        ln.rlike(term)
        & (n_words(ln) >= min_words_per_line)
        & ~F.contains(F.lower(ln), F.lit("javascript"))
    )
    kept_lines = F.filter(lines, survives)
    lowered = F.lower(F.col("text"))
    page_ok = F.size(kept_lines) >= 5
    for needle in ("lorem ipsum", "{"):
        page_ok = page_ok & ~F.contains(lowered, F.lit(needle))
    if bad_words:
        words = F.transform(
            F.filter(F.split(lowered, r"\s+"), lambda w: w != ""),
            lambda w: F.regexp_replace(w, r"^\W+|\W+$", ""),
        )
        bad = F.array(*[F.lit(w.lower()) for w in bad_words])
        page_ok = page_ok & ~F.exists(words, lambda w: F.array_contains(bad, w))
    return docs.select(
        "doc_id",
        *kept_cols,
        F.array_join(kept_lines, "\n").alias("clean_text"),
        F.size(kept_lines).alias("n_lines_kept"),
        page_ok.cast("int").alias("keep"),
    )


#: Rae et al. 2021 Table A1 repetition thresholds (fraction caps)
GOPHER_TOP_NGRAM_CAPS: tuple = ((2, 0.20), (3, 0.18), (4, 0.16))
GOPHER_DUP_NGRAM_CAPS: tuple = (
    (5, 0.15),
    (6, 0.14),
    (7, 0.13),
    (8, 0.12),
    (9, 0.11),
    (10, 0.10),
)


def gopher_repetition(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """The Gopher REPETITION rule set (Rae et al. 2021, Table A1 —
    the within-doc half of the published battery; ``gopher_rules``
    covers the quality half): per doc,

    - ``dup_line_frac``: occurrences-beyond-first of each distinct
      (trimmed, nonblank) line / total such lines;
    - ``dup_line_char_frac``: characters of those beyond-first line
      occurrences / characters of all such lines;
    - ``top_{n}gram_char_frac`` (n per ``GOPHER_TOP_NGRAM_CAPS``): the
      most frequent n-gram's ``count * length(gram)`` over ``length(text)``
      — 0.0 when the top count is 1 (a gram seen once is not
      repetition); ties break to the lexicographically smallest gram.
      Self-overlapping grams ("spam spam spam...") can push this
      above 1.0 — the standard public count×len formula, kept as-is
      so thresholds mean what the paper's do;
    - ``dup_{n}gram_char_frac`` (n per ``GOPHER_DUP_NGRAM_CAPS``):
      characters of tokens covered by ANY occurrence of an n-gram
      appearing >= 2 times, counted once per token (overlap-safe
      position marking, the standard public reading), over total
      token characters;
    - ``keep``: every fraction <= its cap (0.30 and 0.20 for the two
      line fractions, the ``GOPHER_*_NGRAM_CAPS`` entry for a gram
      fraction; int 0/1), fractions rounded-6 BEFORE comparison (the
      cross-engine-exact verdict convention of ``gopher_rules``).

    Empty docs report zeros and keep=1 — absence of text is the
    quality battery's business, not repetition's.

    Scale shape: ZERO shuffle — every metric is a per-row fold over
    the doc's own token/line arrays (sorted-array adjacency for dup
    counting, a run-length left fold for the top gram, an
    exists-window scan for coverage), so the pass runs at scan speed
    with full column pruning at any corpus size; per-row cost is
    bounded by the doc's own length, never the corpus. All indexing
    is null-safe ``get`` — no ANSI out-of-bounds paths on short docs.
    """
    metrics = ["dup_line_frac", "dup_line_char_frac"]
    metrics += [f"top_{n}gram_char_frac" for n, _ in GOPHER_TOP_NGRAM_CAPS]
    metrics += [f"dup_{n}gram_char_frac" for n, _ in GOPHER_DUP_NGRAM_CAPS]
    _check_keep_cols(
        [c for c in keep_cols if isinstance(c, str)],
        set(metrics) | {"keep"},
        "gopher_repetition",
    )
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]

    def r6(c: Column) -> Column:
        return F.round(c, 6)

    def safe_div(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    def seq1(hi: Column) -> Column:
        # 1..hi, EMPTY when hi < 1 (Spark's sequence descends on
        # start > stop — never feed it an unclamped bound)
        return F.when(hi >= 1, F.sequence(F.lit(1), hi)).otherwise(
            F.array().cast("array<int>")
        )

    def adjacent_dup_mask(sorted_arr: Column, value_of) -> Column:
        # for each 1-based i, value_of(elem_i) when elem_i == elem_{i-1}
        # (an occurrence beyond the first of its value), else 0
        return F.transform(
            seq1(F.size(sorted_arr)),
            lambda i: F.when(
                F.get(sorted_arr, i - 1) == F.get(sorted_arr, i - 2),
                value_of(F.get(sorted_arr, i - 1)),
            ).otherwise(F.lit(0)),
        )

    def isum(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0), lambda a, x: a + x)

    lines = F.array_sort(
        F.filter(
            F.transform(F.split(F.col("text"), r"\n"), F.trim),
            lambda ln: ln != "",
        )
    )
    staged = docs.select(
        "doc_id",
        *kept,
        F.col("text").alias("__txt"),
        lines.alias("__lines"),
        _tokens().alias("__toks"),
    )

    nl = F.size("__lines")
    dup_line_occ = F.size(
        F.filter(
            adjacent_dup_mask(F.col("__lines"), lambda ln: F.lit(1)),
            lambda x: x > 0,
        )
    )
    dup_line_chars = isum(adjacent_dup_mask(F.col("__lines"), F.length))
    all_line_chars = isum(F.transform("__lines", F.length))
    out_cols = [
        r6(safe_div(dup_line_occ, nl)).alias("dup_line_frac"),
        r6(safe_div(dup_line_chars, all_line_chars)).alias(
            "dup_line_char_frac"
        ),
    ]

    nt = F.size("__toks")

    def grams_of(n: int) -> Column:
        return F.transform(
            seq1(nt - n + 1),
            lambda i: F.array_join(F.slice("__toks", i, n), " "),
        )

    for n, _cap in GOPHER_TOP_NGRAM_CAPS:
        gs = F.array_sort(grams_of(n))
        # left fold over the sorted grams; strict > keeps the FIRST
        # (lexicographically smallest) maximal run on ties
        best = F.aggregate(
            gs,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
                F.lit("").alias("bestg"),
            ),
            lambda st, g: F.struct(
                g.alias("prev"),
                F.when(g == st["prev"], st["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    F.when(g == st["prev"], st["run"] + 1).otherwise(F.lit(1)),
                    st["best"],
                ).alias("best"),
                F.when(
                    F.when(g == st["prev"], st["run"] + 1).otherwise(F.lit(1))
                    > st["best"],
                    g,
                )
                .otherwise(st["bestg"])
                .alias("bestg"),
            ),
        )
        frac = F.when(
            best["best"] >= 2,
            safe_div(best["best"] * F.length(best["bestg"]), F.length("__txt")),
        ).otherwise(F.lit(0.0))
        out_cols.append(r6(frac).alias(f"top_{n}gram_char_frac"))

    tok_chars = isum(F.transform("__toks", F.length))
    for n, _cap in GOPHER_DUP_NGRAM_CAPS:
        gname, sgname, dpname = f"__g{n}", f"__sg{n}", f"__dp{n}"
        # Every intermediate lands in its OWN column: an expression
        # referenced inside a higher-order-function lambda is
        # re-evaluated PER ELEMENT (first cut re-sorted the gram table
        # once per token — minutes per 500 docs); attribute references
        # are O(1), and CollapseProject keeps multiply-referenced
        # non-cheap aliases materialized.
        staged = staged.withColumn(gname, grams_of(n))
        # (gram, pos) structs sorted by gram: an occurrence is
        # duplicated iff a sorted neighbor shares its gram
        staged = staged.withColumn(
            sgname,
            F.array_sort(
                F.transform(
                    seq1(F.size(gname)),
                    lambda k: F.struct(
                        F.get(gname, k - 1).alias("g"), k.alias("k")
                    ),
                )
            ),
        )
        staged = staged.withColumn(
            dpname,
            F.array_sort(
                F.filter(
                    F.transform(
                        seq1(F.size(sgname)),
                        lambda i: F.when(
                            (
                                F.get(sgname, i - 1)["g"]
                                == F.get(sgname, i - 2)["g"]
                            )
                            | (
                                F.get(sgname, i - 1)["g"]
                                == F.get(sgname, i)["g"]
                            ),
                            F.get(sgname, i - 1)["k"],
                        ),
                    ),
                    lambda k: k.isNotNull(),
                )
            ),
        )
        # interval-union char mass: fold the ASCENDING duplicate start
        # positions, each contributing tokens [max(k, prev_end+1),
        # k+n-1] — overlap-safe by construction, O(dups · n) per doc
        # with zero per-token work
        covered = F.aggregate(
            F.col(dpname),
            F.struct(F.lit(0).alias("pe"), F.lit(0).alias("chars")),
            lambda st, k: F.struct(
                (k + n - 1).alias("pe"),
                (
                    st["chars"]
                    + isum(
                        F.transform(
                            F.slice(
                                "__toks",
                                F.greatest(k, st["pe"] + 1),
                                F.greatest(
                                    k + n - F.greatest(k, st["pe"] + 1),
                                    F.lit(0),
                                ),
                            ),
                            F.length,
                        )
                    )
                ).alias("chars"),
            ),
        )["chars"]
        out_cols.append(
            r6(safe_div(covered, tok_chars)).alias(f"dup_{n}gram_char_frac")
        )

    caps = {"dup_line_frac": 0.30, "dup_line_char_frac": 0.20}
    caps.update((f"top_{n}gram_char_frac", c) for n, c in GOPHER_TOP_NGRAM_CAPS)
    caps.update((f"dup_{n}gram_char_frac", c) for n, c in GOPHER_DUP_NGRAM_CAPS)
    res = staged.select("doc_id", *[F.col(c) if isinstance(c, str) else c for c in keep_cols], *out_cols)
    keep_expr = F.lit(True)
    for m, cap in caps.items():
        keep_expr = keep_expr & (F.col(m) <= cap)
    return res.withColumn("keep", keep_expr.cast("int"))


#: classifier feature schema (order is the weight-vector order; the
#: SQL oracle mirrors the exact expressions): bias, capped word count,
#: capped mean word length, distinct-stopword fraction, alpha-word
#: ratio, digit-word ratio — every value a ratio of integer counts
#: (IEEE-exact division, no libm anywhere in the feature map)
QUALITY_CLF_FEATURES = ("x1", "x2", "x3", "x4", "x5")


def _quality_clf_features(docs: DataFrame, label: Column) -> DataFrame:
    toks = _tokens()
    staged = docs.select("doc_id", label.cast("double").alias("y"), toks.alias("__t"))
    nw = F.size("__t")
    word_chars = F.aggregate(
        "__t", F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    mean_len = F.when(nw > 0, word_chars.cast("double") / nw).otherwise(
        F.lit(0.0)
    )
    stop = F.size(
        F.array_intersect(
            F.transform("__t", F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    alpha = F.size(F.filter("__t", lambda w: w.rlike("[A-Za-z]")))
    digit = F.size(F.filter("__t", lambda w: w.rlike("[0-9]")))
    ratio = lambda num: F.when(  # noqa: E731
        nw > 0, num.cast("double") / nw
    ).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        "y",
        (F.least(nw, F.lit(1000)).cast("double") / F.lit(1000.0)).alias("x1"),
        (F.least(mean_len, F.lit(20.0)) / F.lit(20.0)).alias("x2"),
        (stop.cast("double") / F.lit(8.0)).alias("x3"),
        ratio(alpha).alias("x4"),
        ratio(digit).alias("x5"),
    )


def _standardized_clf_features(
    docs: DataFrame, label: Column
) -> tuple[DataFrame, list[tuple[float, float]]]:
    """Z-score-standardized classifier features plus the (μ, σ) pairs:
    moment sums under the round-12/decimal(32,12) order-independence
    contract, μ/σ derived driver-side in IEEE-exact double arithmetic
    (decimal→double cast, division, multiply, sqrt — all exactly
    specified, so the SQL oracle's identical expressions produce the
    identical doubles)."""
    raw = _quality_clf_features(docs, label)
    mrow = raw.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.coalesce(
                F.sum(F.round(F.col(c), 12).cast("decimal(32,12)")),
                F.lit(0).cast("decimal(32,12)"),
            ).alias(f"s_{c}")
            for c in QUALITY_CLF_FEATURES
        ],
        *[
            F.coalesce(
                F.sum(
                    F.round(F.col(c) * F.col(c), 12).cast("decimal(32,12)")
                ),
                F.lit(0).cast("decimal(32,12)"),
            ).alias(f"q_{c}")
            for c in QUALITY_CLF_FEATURES
        ],
    ).first()
    n = mrow["n"]
    stats: list[tuple[float, float]] = []
    for c in QUALITY_CLF_FEATURES:
        if n == 0:
            stats.append((0.0, 0.0))
            continue
        mu = float(mrow[f"s_{c}"]) / n
        var = float(mrow[f"q_{c}"]) / n - mu * mu
        sigma = var**0.5 if var > 0 else 0.0
        stats.append((mu, sigma))
    std = raw.select(
        "doc_id",
        "y",
        *[
            (
                ((F.col(c) - F.lit(mu)) / F.lit(sigma)).alias(c)
                if sigma > 0
                else F.lit(0.0).alias(c)
            )
            for c, (mu, sigma) in zip(QUALITY_CLF_FEATURES, stats)
        ],
    )
    return std, stats


def train_quality_classifier(
    docs: DataFrame,
    label: Column,
    n_iters: int = 5,
    learning_rate: float = 0.5,
) -> list[float]:
    """Train a logistic-regression quality classifier on cheap
    handcrafted features — the distributed, oracle-reproducible core
    of the fastText-style quality filter every public pretraining
    pipeline runs (CCNet / GPT-3 / LLaMA report LR or fastText
    classifiers over page features with weak labels like "looks like
    a reference corpus page"): full-batch gradient descent,
    ``w ← w + lr · (1/N) Σ (y_i − σ(w·x_i)) x_i``, returning the
    ``[bias, x1..x5]`` weight list after ``n_iters`` steps from zero
    init.

    Bit-reproducibility contract (what makes this ORACLE-GATEABLE,
    which no MLlib trainer is): each doc's per-feature gradient
    contribution is rounded to 12 digits and summed as
    ``decimal(32,12)`` — decimal addition is exact and commutative, so
    the gradient is identical under ANY partitioning or arrival order;
    the round-12 absorbs the one-ulp cross-engine wiggle of the single
    ``exp`` in σ; every other op (feature ratios, the weight update)
    is IEEE-exact double arithmetic the SQL oracle replays verbatim.
    The driver folds the 6-scalar gradient row per iteration into the
    next iteration's plan literals (the ``mix_sources`` bounded-collect
    precedent — 6 scalars per step, never data-sized).

    Features are z-score STANDARDIZED first (full-batch GD on raw
    [0,1]-ish ratios needs hundreds of steps when the discriminative
    feature's spread is a few percent of its cap; on unit-variance
    features it converges in tens): the per-feature moment sums ride
    the same round-12 + ``decimal(32,12)`` contract, and the
    ``sqrt`` in σ is IEEE-exactly specified (unlike exp/log, sqrt is
    REQUIRED correctly rounded), so the standardization constants are
    bit-identical across engines too. A zero-variance feature
    standardizes to 0 (contributes nothing) rather than NaN.

    Scale shape: ONE zero-shuffle feature pass cached (6 doubles +
    label per doc), one moment aggregate, then ``n_iters`` map-side-
    partial aggregate jobs over the cached table — classic full-batch
    distributed GD; no shuffle after the feature pass, nothing
    driver-side but the moment and gradient scalars.
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    if learning_rate <= 0:
        raise ValueError(f"learning_rate must be > 0, got {learning_rate}")
    feats, _ = _standardized_clf_features(docs, label)
    feats = feats.persist()
    try:
        n = feats.count()
        if n == 0:
            raise ValueError("cannot train on an empty corpus")
        w = [0.0] * (1 + len(QUALITY_CLF_FEATURES))
        for _ in range(n_iters):
            z = F.lit(w[0])
            for j, c in enumerate(QUALITY_CLF_FEATURES):
                z = z + F.lit(w[j + 1]) * F.col(c)
            resid = F.col("y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            sums = feats.agg(
                *[
                    F.sum(
                        F.round(resid * x, 12).cast("decimal(32,12)")
                    ).alias(f"g{j}")
                    for j, x in enumerate(
                        [F.lit(1.0), *[F.col(c) for c in QUALITY_CLF_FEATURES]]
                    )
                ]
            ).first()
            w = [
                wj + learning_rate * (float(sums[j]) / n)
                for j, wj in enumerate(w)
            ]
        return w
    finally:
        feats.unpersist()


def quality_classifier_scores(
    docs: DataFrame,
    label: Column,
    n_iters: int = 5,
    learning_rate: float = 0.5,
) -> DataFrame:
    """Train-and-score in one call (the registry/pipeline surface):
    ``(doc_id, label, score, predicted)`` — ``score`` = σ(w·x) under
    the ``train_quality_classifier`` weights (round 6), ``predicted``
    = score >= 0.5. Weak labels in, calibrated-ish quality scores out;
    filter on ``score`` like any other textstats verdict column.
    Scoring is a second zero-shuffle pass (same standardization, same
    trained weights — all plan literals)."""
    w = train_quality_classifier(docs, label, n_iters, learning_rate)
    feats, _ = _standardized_clf_features(docs, label)
    z = F.lit(w[0])
    for j, c in enumerate(QUALITY_CLF_FEATURES):
        z = z + F.lit(w[j + 1]) * F.col(c)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        score.alias("score"),
        (score >= 0.5).alias("predicted"),
    )


def novelty_scores(docs: DataFrame, n: int = 5) -> DataFrame:
    """Per-doc n-gram NOVELTY — the share of a doc's distinct word
    n-grams that appear in NO other document: ``(doc_id, n_grams,
    novel_frac)``, ``novel_frac`` rounded 6. The cheap corpus-level
    originality signal the dedup family doesn't give you: near-zero
    novelty flags template/boilerplate pages that slip under pairwise
    dedup thresholds (each pair overlaps a little, the corpus overlaps
    a lot), and the LOW tail of shared grams is the memorization-risk
    read (how much of this doc exists verbatim elsewhere). Docs with
    fewer than ``n`` tokens are dropped (no gram to judge).

    Scale shape: shingle explode+distinct -> a WINDOW count over the
    gram partition -> doc-bounded gather — exactly three exchanges on
    ONE lineage. Deliberately NOT the tf-idf groupBy+join-back
    silhouette: an equi-join diamond over the shingle table gets
    cloned into differently-pruned subtrees by Catalyst (the corpus
    would tokenize and distinct TWICE — the documented tf_idf rescan
    trade, wrong here because both branches need the same width); the
    window form computes df on the already-shuffled rows. Per-gram
    window state is the running count, never the gram's rows, and the
    plan shape is pinned in tests/test_plans.py. Reuses
    ``dedup.shingles`` — one tokenizer, one gram convention across
    the engine.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql.window import Window

    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        shingles,
    )

    sh = shingles(docs, n)
    with_df = sh.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("novel_frac"),
        )
    )


def perplexity_buckets(docs: DataFrame, n_buckets: int = 3) -> DataFrame:
    """CCNet-style per-source perplexity bucketing → ``(doc_id,
    source, nll, bucket, bucket_name)``: every document is scored
    under the corpus-self-trained bigram LM (``bigram_lm_scores``) and
    assigned an equal-size quantile bucket WITHIN its source, ordered
    by ascending nll — bucket 1 is the source's lowest-perplexity
    "head", the last bucket its "tail" (CCNet, Wenzek et al. 2020:
    per-domain head/middle/tail splits, so one clean domain doesn't
    absorb the whole head). ``bucket_name`` spells head/middle/tail
    for the canonical ``n_buckets=3`` and ``b<i>`` otherwise. Docs
    with fewer than two tokens carry no bigram evidence and are
    absent (the ``bigram_lm_scores`` contract).

    Determinism: ntile over (nll ASC, doc_id ASC) — nll is rounded 6
    upstream, so the sort key is cross-engine exact and the tiebreak
    total. ntile's fill rule (first ``n_rows % n`` buckets take the
    extra row) is the SQL-standard one on both engines.

    Scale shape: scoring is the ``bigram_lm_scores`` plan; bucketing is
    ONE per-source window sort — ``ntile(n)`` directly. A source's docs
    rank in one task: right below ~10^8 docs per source, wrong for a
    pathologically dominant source.
    """
    from pyspark.sql.window import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets ({n_buckets}) must be >= 1")
    scores = bigram_lm_scores(docs)
    dims = docs.select("doc_id", "source")
    scored = scores.join(dims, "doc_id").select("doc_id", "source", "nll")
    w = Window.partitionBy("source").orderBy(F.asc("nll"), F.asc("doc_id"))
    out = scored.select(
        "doc_id", "source", "nll", F.ntile(n_buckets).over(w).alias("bucket")
    )
    if n_buckets == 3:
        name = (
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        name = F.concat(F.lit("b"), F.col("bucket").cast("string"))
    return out.withColumn("bucket_name", name)


def trigram_lm_scores(docs: DataFrame, add_k: float = 1.0) -> DataFrame:
    """Trigram-LM (add-k smoothed) perplexity per document —
    ``(doc_id, n_trigrams, nll3)`` with ``nll3`` = mean over the doc's
    adjacent token triples of ``-log10 P(w3|w1,w2)``, rounded 6, where
    ``P(w3|w1,w2) = (c(w1,w2,w3) + k) / (c(w1,w2) + k·V)`` — counts
    from the SAME corpus being scored (the ``lm_scores`` /
    ``bigram_lm_scores`` self-scoring convention), ``V`` the corpus
    unigram vocabulary. One order above the bigram filter: it sees
    two-token CONTEXT, so templated spam whose bigrams are locally
    plausible but whose three-token windows never repeat scores badly.
    (Stupid-backoff is the published trigram serving scheme, but under
    self-scoring every observed trigram has c3 >= 1 and the backoff
    never fires — add-k is the honest formulation here.) Docs with
    fewer than three tokens are dropped.

    Scale shape — the ``bigram_lm_scores`` silhouette with one wider
    hop: per-row adjacent-triple build (narrow, NO positional
    self-join) -> trigram explode -> c3/c2 counts (token-volume
    shuffles with map-side partials; c2 sums c3's rows) -> each
    DISTINCT trigram scored once on the count table -> occurrences
    join the scored table -> per-doc mean (doc-bounded shuffle).
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    toks = _tokens()
    staged = docs.select("doc_id", toks.alias("__t"))
    tri = staged.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__t") >= 3,
                F.transform(
                    F.sequence(F.lit(2), F.size("__t") - 1),
                    lambda i: F.struct(
                        F.get("__t", i - 2).alias("w1"),
                        F.get("__t", i - 1).alias("w2"),
                        F.get("__t", i).alias("w3"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string,w3:string>>")
            )
        ).alias("tg"),
    ).select("doc_id", "tg.w1", "tg.w2", "tg.w3")
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    c2 = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c2"))
    vocab = staged.select(F.explode("__t").alias("w")).agg(
        F.count_distinct("w").alias("__v")
    )
    scored = (
        c3.join(c2, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "w3",
            (
                -F.log10(
                    (F.col("c3") + F.lit(float(add_k)))
                    / (F.col("c2") + F.lit(float(add_k)) * F.col("__v"))
                )
            ).alias("surprisal"),
        )
    )
    return tri.join(scored, ["w1", "w2", "w3"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(F.sum("surprisal") / F.count(F.lit(1)), 6).alias("nll3"),
    )


def mad_outliers(
    docs: DataFrame,
    cutoff: float = 3.0,
    side: str = "both",
) -> DataFrame:
    """Robust per-source outlier flags over the ``quality`` column →
    ``(doc_id, source, score, dev, is_outlier)``: ``dev`` =
    ``|score - median(source scores)|`` rounded 6, ``is_outlier`` =
    ``dev > cutoff * MAD`` where MAD is the median absolute deviation
    (the Hampel filter — median/MAD stay put when the contamination
    itself is what's being measured, exactly where mean/stddev
    z-scores break). The classic cut ``cutoff=3`` ~ 4.45 sigma under
    normality. ``side`` restricts which tail flags: ``"both"``
    (default), ``"low"`` (only scores BELOW the median — the cleaning
    posture: drop suspiciously bad docs, never suspiciously good
    ones), or ``"high"``.

    Determinism: both medians are EXACT interpolated percentiles
    (``percentile(0.5)``, the ``value_percentiles`` convention shared
    with the DuckDB oracle's ``median``); the comparison reads rounded
    ``dev`` against ``cutoff * round(MAD, 6)`` — all inputs identical
    across engines, so the boolean is exact.

    Scale shape: two source-keyed aggregation passes (median, then MAD
    over the deviations) + one broadcast-joined flag projection. Exact
    medians need their group sorted in one place — per-SOURCE, not
    global, so parallelism is the source count; at 100 TB with few
    huge sources swap ``percentile`` for ``percentile_approx`` (the
    ``approx_value_percentiles`` precedent) and keep the same shape.
    """
    if side not in ("both", "low", "high"):
        raise ValueError(f"side must be 'both', 'low' or 'high', got {side!r}")
    scores = docs.select("doc_id", "source", F.col("quality").alias("score"))
    med = scores.groupBy("source").agg(
        F.percentile("score", F.lit(0.5)).alias("__med")
    )
    dev = scores.join(F.broadcast(med), "source").select(
        "doc_id",
        "source",
        "score",
        F.abs(F.col("score") - F.col("__med")).alias("__dev"),
        (F.col("score") < F.col("__med")).alias("__below"),
    )
    mad = dev.groupBy("source").agg(
        F.round(F.percentile("__dev", F.lit(0.5)), 6).alias("__mad")
    )
    flag = F.round("__dev", 6) > F.lit(float(cutoff)) * F.col("__mad")
    if side == "low":
        flag = flag & F.col("__below")
    elif side == "high":
        flag = flag & ~F.col("__below")
    return dev.join(F.broadcast(mad), "source").select(
        "doc_id",
        "source",
        "score",
        F.round("__dev", 6).alias("dev"),
        flag.alias("is_outlier"),
    )


def bigram_pmi(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus collocations by pointwise mutual information —
    ``(w1, w2, c2, pmi)`` for each adjacent-token bigram with
    ``c2 >= min_count``: ``pmi = log10(c2 * N / (cl * cr))`` over the
    bigram event space (``N`` = total bigram occurrences, ``cl``/``cr``
    the bigram table's left/right marginals) — the standard
    collocation-extraction score (Church & Hanks 1990); ``min_count``
    is the usual stability floor (PMI of hapax pairs saturates).

    Scale shape: ONE corpus-sized shuffle (the bigram count); the
    marginals and joins run on the vocab-bounded count table (Heaps'
    law, like ``bigram_lm_scores``), and N is a broadcast 1-row
    aggregate. The log argument is assembled in double from exact
    integer counts — identical IEEE inputs cross-engine, rounded 6
    like every log10 score in this module.
    """
    if min_count < 1:
        raise ValueError(f"min_count ({min_count}) must be >= 1")
    bg = doc_bigrams(docs)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    tot = c2.agg(F.sum("c2").cast("double").alias("__n"))
    cl = c2.groupBy("w1").agg(F.sum("c2").alias("__cl"))
    cr = c2.groupBy("w2").agg(F.sum("c2").alias("__cr"))
    return (
        c2.filter(F.col("c2") >= min_count)
        .join(cl, "w1")
        .join(cr, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c2",
            F.round(
                F.log10(
                    (F.col("c2").cast("double") * F.col("__n"))
                    / (
                        F.col("__cl").cast("double")
                        * F.col("__cr").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def normalize_text(
    docs: DataFrame,
    form: str = "NFC",
    keep_cols: tuple = (),
) -> DataFrame:
    """Canonical text normalization — ``(doc_id, clean_text, changed)``
    — the preprocessing pass that runs BEFORE any hash-based operator:
    every dedup/fingerprint/contamination op here keys on exact bytes,
    so two visually-identical docs (composed vs decomposed accents, a
    stray zero-width space, doubled spaces) hash apart unless the
    corpus is normalized first.

    1. Unicode normalization to ``form`` (NFC/NFD/NFKC/NFKD) — Spark
       has no built-in normalizer, so this is ONE Arrow-batched
       ``mapInPandas`` pass (the justified-Python case); pure-ASCII
       strings are NFC/NFD-invariant and skip the per-string call.
    2. Drop C0 controls (except tab/newline/CR),
       DEL, and the zero-width set (ZWSP/ZWNJ/ZWJ/BOM) — a JVM-side
       ``regexp_replace``.
    3. Runs of non-newline whitespace fold to one
       space, spaces around newlines drop, outer whitespace trims —
       three JVM-side replaces, newline structure preserved (the C4 /
       line-dedup ops key on lines).

    ``changed`` is an int flag (1 = the text was altered) so a
    pipeline can measure how dirty a source is before deciding
    whether normalization belongs in its ingest path. Only step 1
    leaves codegen; steps 2-3 stay whole-stage. The DuckDB mirror is
    ``nfc_normalize`` + the same RE2 replaces.

    ``keep_cols`` (column NAMES of ``docs``) ride through the Arrow
    pass and come back unchanged — the zero-join passthrough contract
    the scoring ops use (``clean_corpus`` carries the full row so the
    rewrite never needs a corpus-vs-corpus doc_id join back). Derived
    columns like ``n_chars`` are NOT recomputed; consumers needing
    post-normalization lengths recompute from ``clean_text``.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    keep = list(keep_cols)
    bad = [c for c in keep if c not in docs.columns]
    if bad:
        raise ValueError(f"normalize_text: unknown keep_cols {bad}")

    id_type = docs.schema["doc_id"].dataType.simpleString()
    keep_schema = "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in keep
    )

    def _normalize(batches):
        import unicodedata

        for pdf in batches:
            # the original rides along so `changed` never needs a
            # join back to the corpus (a full doc-keyed shuffle);
            # pure-ASCII strings are invariant under ALL four forms
            # (compatibility forms rewrite ASCII-adjacent chars, not
            # ASCII itself) and skip the per-string call
            pdf["__n"] = [
                t
                if t is None or t.isascii()
                else unicodedata.normalize(form, t)
                for t in pdf["__t"]
            ]
            yield pdf

    staged = docs.select("doc_id", *keep, F.col("text").alias("__t"))
    out = staged.mapInPandas(
        _normalize,
        f"doc_id {id_type}{keep_schema}, __t string, __n string",
    )
    clean = F.regexp_replace(
        F.col("__n"),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
        "\\u200B\\u200C\\u200D\\uFEFF]",
        "",
    )
    clean = F.regexp_replace(clean, "[^\\S\\n]+", " ")
    clean = F.regexp_replace(clean, " *\\n *", "\n")
    clean = F.trim(clean)
    return out.select(
        "doc_id",
        *keep,
        clean.alias("clean_text"),
        (clean != F.col("__t")).cast("int").alias("changed"),
    )


#: default taxonomy for the engine's synthetic corpus vocabulary —
#: real deployments pass their own {domain: keywords} dict (the
#: PATTERNS-extension convention from redaction.py)
DEFAULT_TAXONOMY: dict = {
    "query": ["join", "filter", "scan", "agg", "sort", "query", "hash"],
    "stream": ["stream", "window", "batch", "dup"],
    "storage": ["table", "row", "column", "part", "key", "merge"],
}


def classify_domains(docs: DataFrame) -> DataFrame:
    """Rule-based topical classification — one row per doc:
    ``(doc_id, domain, hits, total_hits, confidence)`` — the
    ``DEFAULT_TAXONOMY`` keyword bucketing a mixture pipeline uses when sources
    don't align with topics (curated mixtures re-balance by DOMAIN —
    code/web/reference/dialog — not by crawl source; a keyword pass is
    the classic cheap first cut before a trained classifier exists).

    ``hits`` counts token occurrences (repeats included) of the
    winning domain's keywords; ``domain`` is the argmax with a
    deterministic tiebreak (lexicographically-largest name on equal
    hits — the struct-max order, identical in both engines);
    ``confidence = hits / total_hits`` rounded 6 (exact integer
    division); docs hitting NO domain report ``(NULL, 0, 0, NULL)``
    rather than a fake class.

    Scale shape: pure per-row column math — tokenize once, one
    ``size(filter(...))`` per domain, argmax via ``greatest`` over
    (hits, name) structs — ZERO shuffles, scan speed at 100 TB,
    keyword sets are plan-time literals (broadcast-free). Taxonomies
    big enough to blow plan size belong in a broadcast-joined keyword
    table instead; at the tens-of-domains scale this form wins.
    """
    tax = DEFAULT_TAXONOMY
    toks = F.transform(_tokens(), lambda w: F.lower(w))
    staged = docs.select("doc_id", toks.alias("__t"))
    hit = lambda kws: F.size(  # noqa: E731
        F.filter(F.col("__t"), lambda w: w.isin([k.lower() for k in kws]))
    ).cast("long")
    names = sorted(tax)
    k = len(names)
    scored = staged.select(
        "doc_id",
        *[hit(tax[d]).alias(f"__h_{i}") for i, d in enumerate(names)],
    )
    # integer-encoded argmax (portable — DuckDB greatest rejects
    # structs): key = hits * n_domains + name_index, so max key ==
    # max (hits, index); index order is sorted-name order, making the
    # tiebreak the lexicographically-largest domain on equal hits
    key = (
        F.greatest(*[F.col(f"__h_{i}") * k + i for i in range(k)])
        if k > 1
        else F.col("__h_0") * k
    )
    total = sum(F.col(f"__h_{i}") for i in range(k))
    out = scored.select(
        "doc_id",
        key.alias("__key"),
        total.alias("total_hits"),
    ).select(
        "doc_id",
        F.expr(f"__key div {k}").alias("__bh"),
        (F.col("__key") % k).alias("__bi"),
        "total_hits",
    )
    domain_of = None
    for i, d in enumerate(names):
        cond = F.col("__bi") == i
        domain_of = (
            F.when(cond, F.lit(d))
            if domain_of is None
            else domain_of.when(cond, F.lit(d))
        )
    return out.select(
        "doc_id",
        F.when(F.col("__bh") > 0, domain_of)
        .otherwise(F.lit(None).cast("string"))
        .alias("domain"),
        F.when(F.col("__bh") > 0, F.col("__bh"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hits"),
        F.col("total_hits").cast("long").alias("total_hits"),
        F.when(
            F.col("__bh") > 0,
            F.round(
                F.col("__bh").cast("double") / F.col("total_hits"), 6
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("confidence"),
    )


def zipf_fit(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Rank-frequency (Zipf) audit per source — one row per ``source``
    value: ``(source, n_tokens, n_types, hapax_ratio, zipf_slope,
    zipf_intercept, zipf_r2)``. Natural text follows Zipf's law with a
    log-log rank-frequency slope near -1 (Zipf 1949; Piantadosi 2014
    for the modern survey); corpus-QA uses the fitted slope and r² as a
    cheap whole-source health check — template/boilerplate farms and
    synthetic or deduplicated-to-death sources flatten or kink the
    curve, and a hapax ratio far from the ~0.4-0.6 natural-language
    band flags OCR noise (high) or tiny closed vocabularies (low).

    The fit is ordinary least squares of ``y = log10(freq)`` on
    ``x = log10(rank)`` over each group's ``top_k`` most frequent words
    (rank ties broken by word, so ranks are deterministic);
    ``hapax_ratio`` = count-one types / all types, over the FULL
    vocabulary (not just the head). Groups with a single distinct rank
    report NULL slope/intercept/r² (no line to fit) rather than a fake
    fit.

    Cross-engine exactness: per-row x, y, xy, x², y² are IEEE doubles
    (log10 of the same integers), rounded 12 and summed as
    ``decimal(32,12)`` — exact commutative addition under any
    partitioning (the quality-classifier moment convention) — then the
    closed-form slope/intercept/r² is a short double chain on the
    exact sums, rounded 6. Guards are structural (``CASE WHEN var = 0``
    on both engines), not try_divide, so the oracle replays the same
    expression tree.

    Scale shape: one tokenize explode (narrow) -> per-(group, word)
    count (ONE token-volume shuffle with map-side partial aggregation)
    -> full-vocab stats as a vocabulary-bounded second agg, and the
    head via row_number over (group) ordered (cnt desc, word) — the
    rank filter plans WindowGroupLimit, pruning each group to top_k
    rows BEFORE the window shuffle — -> a ~|groups|-row OLS aggregate
    joined back to the stats (broadcast at any realistic group count).
    Nothing after the word count scales with corpus size; at 100 TB
    the word-count shuffle IS the operator, exactly like tf-idf.
    """
    from pyspark.sql.window import Window

    if top_k < 2:
        raise ValueError(f"top_k ({top_k}) must be >= 2 to fit a line")
    tok = docs.select(
        F.col("source").alias("__g"),
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    wc = tok.groupBy("__g", "word").agg(F.count(F.lit(1)).alias("cnt"))
    stats = wc.groupBy("__g").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )
    w = Window.partitionBy("__g").orderBy(F.desc("cnt"), F.asc("word"))
    top = wc.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= top_k
    )
    x = F.log10(F.col("__r").cast("double"))
    y = F.log10(F.col("cnt").cast("double"))
    dec = lambda c: F.round(c, 12).cast("decimal(32,12)")  # noqa: E731
    m = top.select(
        "__g",
        dec(x).alias("__x"),
        dec(y).alias("__y"),
        dec(x * y).alias("__xy"),
        dec(x * x).alias("__xx"),
        dec(y * y).alias("__yy"),
    )
    ols = m.groupBy("__g").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum("__xy").cast("double").alias("__sxy"),
        F.sum("__xx").cast("double").alias("__sxx"),
        F.sum("__yy").cast("double").alias("__syy"),
    )
    cov = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    varx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vary = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = F.when(varx != 0, cov / varx)
    fitted = ols.select(
        "__g",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("__sy") - slope * F.col("__sx")) / F.col("__n"), 6).alias(
            "zipf_intercept"
        ),
        F.round(
            F.when(varx * vary != 0, cov * cov / (varx * vary)), 6
        ).alias("zipf_r2"),
    )
    return (
        stats.join(fitted, "__g")
        .select(
            F.col("__g").alias("source"),
            "n_tokens",
            "n_types",
            "hapax_ratio",
            "zipf_slope",
            "zipf_intercept",
            "zipf_r2",
        )
    )


def blocklist_hits(
    docs: DataFrame,
    blocklist: list,
    max_hit_ratio: float = 0.0,
    keep_cols: tuple = (),
    flag_only: bool = False,
) -> DataFrame:
    """Wordlist policy filter (the C4 "bad words" stage, Raffel et al.
    2020 §2.2 — C4 drops any page containing a listed word, i.e. the
    ``max_hit_ratio=0.0`` default): per-doc token matches against a
    curated blocklist → ``(doc_id, [keep_cols...], n_tokens, n_hits,
    n_distinct_hits, hit_ratio, flagged)`` with ``flagged = hit_ratio
    > max_hit_ratio`` computed over the ROUND(6) ratio (both engines
    compare the same rounded value — no ulp-edge divergence on the
    policy bit). ``flag_only=True`` is the filter-consumer mode
    (clean_corpus): just ``(doc_id, [keep_cols...], flagged)``, which
    also lets an input with its own ``n_tokens``-named column ride
    keep_cols without an ambiguous-reference collision.

    Matching is exact whole-token equality over the whitespace
    tokenizer (the doc-pipeline convention), lowercased on both sides —
    NOT substring search, which is the classic Scunthorpe false-positive
    trap. Obfuscation-resistant variants belong in the blocklist
    itself (the curation knob), not in a looser matcher.

    Scale shape: the blocklist rides the PLAN as a literal array (the
    IVF plan-literal-centroids move) and every output column is a
    per-row fold over the token array — zero shuffle, zero joins, scan
    speed at any corpus size. Right for curated lists (tens to a few
    thousand words: O(|list|) per token, all JVM-side); a list big
    enough to blow the plan budget should flip to the tokens-join
    shape of ``operators/text.py:word_count`` instead.
    """
    if not blocklist:
        raise ValueError("blocklist_hits needs a non-empty blocklist")
    if not 0.0 <= max_hit_ratio <= 1.0:
        raise ValueError(f"max_hit_ratio ({max_hit_ratio}) must be in [0, 1]")
    words = list(dict.fromkeys(w.lower() for w in blocklist))
    blk = F.array(*[F.lit(w) for w in words])
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        tokens_null_safe,
    )

    toks = F.transform(tokens_null_safe(F.col("text")), lambda w: F.lower(w))
    feature_out = () if flag_only else (
        "n_tokens", "n_hits", "n_distinct_hits", "hit_ratio"
    )
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    staged = docs.select("doc_id", *kept, toks.alias("_bl_toks"))
    kept_names = [
        c if isinstance(c, str) else staged.columns[1 + i]
        for i, c in enumerate(keep_cols)
    ]
    _check_keep_cols(kept_names, set(feature_out) | {"flagged"}, "blocklist_hits")
    n_tokens = F.size("_bl_toks")
    n_hits = F.size(
        F.filter(F.col("_bl_toks"), lambda w: F.array_contains(blk, w))
    )
    ratio = F.round(
        F.when(n_tokens > 0, n_hits.cast("double") / n_tokens).otherwise(0.0), 6
    )
    return staged.select(
        "doc_id",
        *kept_names,
        *(
            []
            if flag_only
            else [
                n_tokens.cast("long").alias("n_tokens"),
                n_hits.cast("long").alias("n_hits"),
                # array_intersect dedupes (Spark: "without duplicates")
                # — the oracle spells it list_filter(list_distinct(...))
                F.size(F.array_intersect(F.col("_bl_toks"), blk))
                .cast("long")
                .alias("n_distinct_hits"),
                ratio.alias("hit_ratio"),
            ]
        ),
        (ratio > F.lit(float(max_hit_ratio))).alias("flagged"),
    )


# Latin-1/Windows-1252 re-decode signatures: a UTF-8 multibyte
# sequence read as single-byte text starts with one of these (the
# ftfy heuristic's core); counted per marker on the ORIGINAL text.
MOJIBAKE_MARKERS = ["Ã", "â€", "Â"]


def encoding_qa(
    docs: DataFrame,
    min_ascii_ratio: float = 0.5,
    keep_cols: tuple = (),
    flag_only: bool = False,
) -> DataFrame:
    """Per-doc encoding-health audit — the ingest gate a web-scale text
    pipeline runs before any tokenizer sees the bytes: ``(doc_id,
    [keep_cols...], n_chars, ascii_ratio, n_replacement, n_control,
    n_mojibake, flagged)``. ``flag_only=True`` is the filter-consumer
    mode (clean_corpus): ``(doc_id, [keep_cols...], flagged)`` — which
    is also what lets the documents table's own ``n_chars`` column
    ride keep_cols without an ambiguous-reference collision.

    - ``n_replacement``: U+FFFD REPLACEMENT CHARACTER count — the
      decoder already gave up on those bytes.
    - ``n_control``: C0 controls excluding tab/newline/CR, plus DEL —
      binary-in-text contamination.
    - ``n_mojibake``: occurrences of the classic UTF-8-as-Latin-1
      re-decode signatures (``MOJIBAKE_MARKERS``: Ã, â€, Â), each
      counted independently on the original text by exact substring
      arithmetic ``(len - len(replace)) / len(marker)`` — literal
      counting, no regex dialect risk.
    - ``ascii_ratio``: printable-pipeline sanity for ASCII-dominant
      sources (round 6; empty docs report 1.0 — vacuously clean).
    - ``flagged``: any replacement/control/mojibake hit, or
      ``ascii_ratio < min_ascii_ratio`` — the latter compared on the
      ROUNDED ratio on both engines.

    Zero shuffle: every column is length/replace arithmetic plus two
    character-class regexps whose classes (``[^\\x00-\\x7F]``, the C0
    range) mean the same thing in Java regex and RE2 — scan speed at
    any corpus size. Counts are code-POINT based in both engines
    (Spark ``length``/DuckDB ``length`` agree above the BMP too).
    """
    if not 0.0 <= min_ascii_ratio <= 1.0:
        raise ValueError(f"min_ascii_ratio ({min_ascii_ratio}) must be in [0, 1]")
    feature_out = () if flag_only else (
        "n_chars", "ascii_ratio", "n_replacement", "n_control", "n_mojibake"
    )
    kept = [F.col(c) if isinstance(c, str) else c for c in keep_cols]
    # NULL text counts as the empty string (the library-wide
    # convention, dedup.tokens_null_safe) — all-NULL metrics would otherwise ride three-valued
    # logic into a NULL flagged verdict
    staged = docs.select(
        "doc_id",
        *kept,
        F.coalesce(F.col("text"), F.lit("")).alias("_eq_text"),
    )
    kept_names = [
        c if isinstance(c, str) else staged.columns[1 + i]
        for i, c in enumerate(keep_cols)
    ]
    _check_keep_cols(kept_names, set(feature_out) | {"flagged"}, "encoding_qa")
    c = F.col("_eq_text")
    n_chars = F.length(c)
    n_ascii = F.length(F.regexp_replace(c, "[^\\x00-\\x7F]", ""))
    ascii_ratio = F.round(
        F.when(n_chars > 0, n_ascii.cast("double") / n_chars).otherwise(1.0), 6
    )
    n_repl = n_chars - F.length(F.replace(c, F.lit("�"), F.lit("")))
    n_ctrl = n_chars - F.length(
        F.regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    )
    moji = None
    for m in MOJIBAKE_MARKERS:
        cnt = (
            (n_chars - F.length(F.replace(c, F.lit(m), F.lit("")))) / F.lit(len(m))
        ).cast("long")
        moji = cnt if moji is None else moji + cnt
    return staged.select(
        "doc_id",
        *kept_names,
        *(
            []
            if flag_only
            else [
                n_chars.cast("long").alias("n_chars"),
                ascii_ratio.alias("ascii_ratio"),
                n_repl.cast("long").alias("n_replacement"),
                n_ctrl.cast("long").alias("n_control"),
                moji.alias("n_mojibake"),
            ]
        ),
        (
            (n_repl > 0)
            | (n_ctrl > 0)
            | (moji > 0)
            | (ascii_ratio < F.lit(float(min_ascii_ratio)))
        ).alias("flagged"),
    )
