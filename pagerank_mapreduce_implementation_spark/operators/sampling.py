"""Deterministic sampling & data-split operators (engine extension;
no analogue in the reference — SURVEY.md §2.4).

A training-data pipeline needs REPRODUCIBLE splits and quotas: a
train/val/test assignment must not change when the corpus is
re-partitioned, re-ordered, or re-run (Spark's ``df.sample`` is
seed-stable only for identical partitioning — a repartition reshuffles
the sample). Both operators here derive every decision from a
content/key hash, so the assignment is a pure function of the row:

- ``hash_split``: md5-bucket the key into [0, 100) and map bucket
  ranges to named splits — the standard "hash mod 100" split that
  stays stable forever and is reproducible in ANY engine with md5
  (the SQL oracle evaluates the identical arithmetic).
- ``quota_sample``: keep the top-k rows per group by an explicit
  ordering (quality score desc + key tiebreak) — the curation quota
  ("at most N docs per source, best first"). Window row_number with a
  pushed group-limit: Spark plans WindowGroupLimit, pruning to k rows
  per group BEFORE the shuffle.

Scale: hash_split is a narrow per-row projection (zero shuffles);
quota_sample is one window shuffle on the group key with per-partition
pre-pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: 15 md5 hex chars -> non-negative 60-bit long (same construction as
#: dedup._word_hash60 — identical in DuckDB)
def _hash_bucket(key: Column, salt: str, n_buckets: int) -> Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % n_buckets
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic named split assignment: adds ``bucket`` (0..99)
    and ``split`` columns; every other column passes through.

    ``splits`` maps split name -> percentage (must sum to 100); ranges
    are assigned in the dict's insertion order (e.g. the default
    train=[0,90), val=[90,95), test=[95,100)). The ``split:`` salt
    namespaces the hash so other hash-keyed samplers decorrelate.

    The assignment depends only on the key — re-partitioning,
    re-ordering, appending data, or re-running on a different engine
    never moves a row between splits. That stability is the entire
    point: eval rows stay eval rows across every pipeline version.
    """
    if splits is None:
        splits = {"train": 90, "val": 5, "test": 5}
    if sum(splits.values()) != 100:
        raise ValueError(f"split percentages must sum to 100, got {splits}")
    if any(pct <= 0 for pct in splits.values()):
        # negative/zero entries can still sum to 100 while shadowing a
        # later range into permanent emptiness (review finding)
        raise ValueError(f"split percentages must be positive, got {splits}")
    bucket = _hash_bucket(F.col(key_col), "split:", 100)
    lo = 0
    cases: list[tuple[int, int, str]] = []
    for name, pct in splits.items():
        cases.append((lo, lo + pct, name))
        lo += pct
    # build WHEN chain first-range-first for readability of the plan
    expr = None
    for start, end, name in cases:
        cond = (F.col("bucket") >= start) & (F.col("bucket") < end)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("bucket", bucket.cast("int")).withColumn(
        "split", expr
    )


def _hash_uniform(key: Column, salt: str) -> Column:
    """52-bit md5-derived uniform in [0, 1): the IEEE-exact sampling
    coin. Every op in the expression — int->double of a <=52-bit value,
    division by a power of two — is exactly specified by IEEE 754, so
    a DuckDB oracle evaluating the same characters selects the same
    rows (deliberately NO pow/log, whose libm rounding varies across
    engines). Shared by both samplers: the oracle-parity contract
    depends on every character of this expression, so it exists ONCE.
    """
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 13),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 52))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    scale: float,
    key_col: str,
) -> DataFrame:
    """Deterministic importance (Bernoulli) sampling: keep each row
    with probability ``min(1, weight/scale)``, decided by a 52-bit
    content-hash uniform — the curation pass "sample docs in
    proportion to quality/length/score" with hash_split's stability
    guarantees (re-partitioning, re-ordering, appends and re-runs
    never flip a row's fate; pure function of the key, salted
    ``wsample:``).

    Exactness across engines: the keep test is ``u * scale <
    weight`` where ``u = md5_52bits / 2^52`` — only IEEE-exact ops
    (int->double of a <=52-bit value, division by a power of two,
    one multiply, one compare), deliberately NO pow/log whose libm
    rounding differs between engines; the DuckDB oracle evaluating the
    identical expression selects the identical row set. (Classic
    weighted reservoir sampling — Efraimidis-Spirakis u^(1/w) — needs
    pow, so its top-k membership is not bit-reproducible cross-engine.)

    Scale posture: a narrow per-row filter — zero shuffles, zero
    aggregates, pushdown-friendly. Pick ``scale`` ~= mean(weight) /
    target_rate from a stats pass.
    """
    u = _hash_uniform(F.col(key_col), "wsample:")
    return df.filter(u * F.lit(float(scale)) < F.col(weight_col).cast("double"))


def stratified_weighted_sample(
    df: DataFrame,
    weight_col: str,
    group_col: str,
    rate: float,
    key_col: str,
) -> DataFrame:
    """Per-group importance sampling: within each ``group_col`` stratum,
    keep each row with probability ``rate * weight / max(weight over
    the stratum)`` — the per-source curation sampler ("downsample every
    source, keep its best-weighted rows preferentially") that a single
    global scale can't express when strata have different weight
    ranges.

    The normalizer is the stratum MAX (not mean) on purpose: max of
    doubles is ORDER-INDEPENDENT, so the keep test ``u * max_w <
    rate * w`` stays IEEE-exact and bit-reproducible in the SQL oracle
    — a mean would inherit partial-aggregation order and could flip
    boundary rows between engines. Same 52-bit md5 uniform and
    stability guarantees as weighted_sample.

    Scale shape: one groupBy(group) max — strata counts are small, AQE
    broadcasts the normalizer table — then a narrow filter; the
    fingerprint math never shuffles the corpus.
    """
    mx = df.groupBy(group_col).agg(F.max(F.col(weight_col).cast("double")).alias("__mxw"))
    u = _hash_uniform(F.col(key_col), "swsample:")
    return (
        df.join(mx, group_col)
        .filter(u * F.col("__mxw") < F.lit(float(rate)) * F.col(weight_col).cast("double"))
        .drop("__mxw")
    )


def _source_token_totals(staged: DataFrame) -> "dict[str, int]":
    """Collect per-source whitespace-token totals for the mixers,
    FAIL-LOUD on the two inputs that used to crash deep inside the
    allocation math (review finding): a NULL source key (None cannot
    sort against str and cannot take a budget) and a source whose
    every doc has NULL text (its token sum is NULL -> int(None))."""
    trows = staged.groupBy("source").agg(F.sum("__nt").alias("__T")).collect()
    if any(r[0] is None for r in trows):
        raise ValueError(
            "source contains NULL — filter or impute source keys "
            "before mixing (a NULL source cannot take a budget)"
        )
    no_text = sorted(r[0] for r in trows if r["__T"] is None)
    if no_text:
        raise ValueError(
            "sources with no countable text (every row NULL): "
            f"{no_text} — their token mass is undefined"
        )
    return {r[0]: int(r["__T"]) for r in trows}


def quota_sample(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    key_col: str,
) -> DataFrame:
    """Top-``k`` rows per ``group_col`` ordered by ``order_col``
    descending with ``key_col`` as the deterministic tiebreak; adds
    ``rn`` (1-based rank within the group).

    The per-source quality quota of a data recipe: "keep at most k
    docs per source, best first". Catalyst plans WindowGroupLimit —
    each input partition pre-prunes to its own top-k per group before
    the window shuffle, so the exchange carries O(groups x k), not the
    corpus.
    """
    w = Window.partitionBy(group_col).orderBy(F.desc(order_col), F.asc(key_col))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def mix_sources(docs: DataFrame, target_props: dict[str, float]) -> DataFrame:
    """Deterministic DATA MIXING: subsample each source so the
    surviving TOKEN mass matches ``target_props`` proportions, keeping
    as much data as possible — the pretraining mixture-shaping stage
    ("50% web, 30% code, 20% papers").

    Math: with per-source token totals ``T_s`` and target proportions
    ``p_s``, the largest achievable mixture total without OVERSAMPLING
    any source is ``k = min_s T_s / p_s``; each source's token budget
    is ``B_s = p_s * k`` (the binding source keeps everything) and a
    doc survives iff ``u(doc) * T_s < p_s * k`` — the same IEEE-exact
    52-bit md5-uniform keep test as ``weighted_sample`` (no division
    on the row side, identical expression in the SQL oracle, so the
    surviving row SET is bit-reproducible). Sources absent from
    ``target_props`` are dropped; surviving token mass per source is
    ``B_s`` in expectation (doc-level Bernoulli). Every ``target_props``
    key must exist in the corpus — a missing (e.g. typo'd) source would
    silently drop out of the inner join and reshape the whole mixture
    through ``k = min T_s/p_s``, so it raises instead (round-5 advice:
    the fail-loud posture of the personalized-pagerank reset guard).
    The check collects the sources-sized totals — a tiny dim table
    already materialized for ``k``.

    Scale shape: one narrow token-count pass collects the
    sources-sized totals (a tiny dim table — a handful of rows at any
    corpus size) to the driver, which validates the keys, derives
    ``k`` (long->double, division, min: the exact IEEE ops the SQL
    oracle runs, so driver-side derivation is bit-identical), and
    ships the per-source rate rows back as a broadcast; the action-time
    plan is then just scan + broadcast-join + filter — no shuffle of
    the corpus itself, append-stable and re-run-stable like every
    sampling op here.
    """
    spark = docs.sparkSession
    if not target_props:
        raise ValueError("target_props must be non-empty")
    if any(p <= 0 for p in target_props.values()):
        raise ValueError("target proportions must be positive")
    toks = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    staged = docs.withColumn("__nt", toks.cast("long"))
    totals = _source_token_totals(staged)
    missing = sorted(set(target_props) - set(totals))
    if missing:
        raise ValueError(
            f"target_props sources not present in the corpus: {missing} "
            f"(corpus sources: {sorted(totals)}) — a silent drop would "
            "reshape the whole mixture via k = min(T_s/p_s)"
        )
    tmap = {s2: t for s2, t in totals.items() if s2 in target_props}
    k = min(float(t) / float(target_props[s]) for s, t in tmap.items())
    rates = spark.createDataFrame(
        [
            (s, float(t), float(target_props[s]), k)
            for s, t in sorted(tmap.items())
        ],
        "source string, __T double, __p double, __k double",
    )
    return (
        staged.join(F.broadcast(rates), "source")
        .filter(
            _hash_uniform(F.col("doc_id"), "mix:") * F.col("__T")
            < F.col("__p") * F.col("__k")
        )
        .drop("__nt", "__T", "__p", "__k")
    )


def _hashed_gram_counts(
    docs: DataFrame,
    n_buckets: int,
    ngram_ns: tuple,
    salt: str,
) -> DataFrame:
    """Per-doc hashed n-gram feature counts ``(doc_id, bucket, cnt)``
    — the DSIR feature map (Xie et al. 2023 §3: bag of hashed word
    n-grams). Whitespace tokens; each n in ``ngram_ns`` contributes
    its space-joined grams; gram -> bucket via the shared 15-hex md5
    (``_hash_bucket``, identical in the SQL oracle). Narrow per-row
    gram build + ONE token-volume shuffle (the groupBy), zero-gram
    docs naturally absent."""
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    staged = docs.select("doc_id", toks.alias("__t"))
    nt = F.size("__t")

    def grams_of(n: int) -> Column:
        if n == 1:
            return F.col("__t")
        return F.when(
            nt >= n,
            F.transform(
                F.sequence(F.lit(1), nt - n + 1),
                lambda i: F.array_join(F.slice("__t", i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = F.concat(*[grams_of(int(n)) for n in ngram_ns])
    return (
        staged.select("doc_id", F.explode(grams).alias("g"))
        .select(
            "doc_id", _hash_bucket(F.col("g"), salt, n_buckets).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    ngram_ns: tuple = (1, 2),
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every ``raw``
    doc by how target-like its hashed n-gram profile is —
    ``(doc_id, n_grams, log_weight)`` with

    ``log_weight = Σ_b c_b(doc) · [log10 p̂_tgt(b) − log10 p̂_raw(b)]``

    over the doc's own bucket counts ``c_b``, where ``p̂`` are
    Laplace-smoothed bucket unigram distributions fit on the target
    and raw corpora respectively (``(count_b + α) / (total + α·B)``,
    ``α = smoothing``), rounded 6. Zero-gram (empty) docs are dropped
    — no features to weigh (the ``lm_scores`` convention). Positive
    means target-like; feed to ``dsir_select`` for the paper's
    Gumbel top-k resampling step.

    Scale shape: two hashed-feature passes (one per corpus, each ONE
    token-volume shuffle with map-side partial agg) -> two
    B-row bucket distributions (B = ``n_buckets``, a plan-time
    constant) full-outer-merged and totaled via a broadcast 1-row
    aggregate -> the per-bucket log-ratio table (B rows) broadcast
    back onto the raw side's (doc, bucket) counts -> per-doc weighted
    sum (doc-bounded shuffle). The corpus is never collected; only
    bucket-count tables bounded by B cross stages.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    if not ngram_ns or any(int(n) < 1 for n in ngram_ns):
        raise ValueError(f"ngram_ns must be ints >= 1, got {ngram_ns!r}")
    raw_bc = _hashed_gram_counts(raw, n_buckets, ngram_ns, "dsir:")
    tgt_bc = _hashed_gram_counts(target, n_buckets, ngram_ns, "dsir:")
    raw_dist = raw_bc.groupBy("bucket").agg(F.sum("cnt").alias("__r"))
    tgt_dist = tgt_bc.groupBy("bucket").agg(F.sum("cnt").alias("__t"))
    dist = (
        raw_dist.join(tgt_dist, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("__r", F.lit(0)).alias("__r"),
            F.coalesce("__t", F.lit(0)).alias("__t"),
        )
    )
    totals = dist.agg(
        F.sum("__r").alias("__rtot"), F.sum("__t").alias("__ttot")
    )
    a = float(smoothing)
    ab = a * float(n_buckets)
    lam = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log10(
                (F.col("__t") + F.lit(a))
                / (F.col("__ttot").cast("double") + F.lit(ab))
            )
            - F.log10(
                (F.col("__r") + F.lit(a))
                / (F.col("__rtot").cast("double") + F.lit(ab))
            )
        ).alias("__lam"),
    )
    return (
        raw_bc.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("int").alias("n_grams"),
            F.round(F.sum(F.col("cnt") * F.col("__lam")), 6).alias(
                "log_weight"
            ),
        )
    )


#: ln(10) as the exact double literal shared with the SQL oracle —
#: converts log10 importance weights to the natural-log units the
#: Gumbel-max trick requires (never compute ln(10) in-engine: two
#: engines' libm may disagree in the last ulp)
_LN10 = 2.302585092994046


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR's selection step: Gumbel top-k resampling over
    ``dsir_weights`` — equivalent to sampling ``k`` docs WITHOUT
    replacement with probability proportional to their importance
    weights (the Gumbel-max trick), but fully deterministic: the
    Gumbel noise ``g = -ln(-ln(u))`` is driven by the 52-bit
    md5-uniform on the doc key (the ``weighted_sample`` coin), so the
    selected SET is a pure function of (corpus, salts) and
    reproducible in the SQL oracle. Returns
    ``(doc_id, log_weight, score)`` for the top ``k`` docs by
    ``score = log_weight·ln10 + g`` (weights converted to natural-log
    units; score rounded 6, ordered on the ROUNDED score with the
    doc-key tiebreak — the ``pagerank_top20`` determinism convention).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_weights(raw, target, n_buckets)
    u = _hash_uniform(F.col("doc_id"), "dsir-gumbel:")
    score = F.round(
        F.col("log_weight") * F.lit(_LN10) - F.log(-F.log(u)), 6
    )
    return (
        w.select("doc_id", "log_weight", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def top_fraction_per_group(
    df: DataFrame,
    frac: float,
    score_col: str,
    group_col: str,
) -> DataFrame:
    """Keep the top ``frac`` of rows per group by score — the
    PROPORTIONAL curation quota (``quota_sample`` keeps an absolute
    top-k; a fixed k over-prunes small sources and under-prunes huge
    ones, while "best 30% of every source" scales with the source).
    Keeps ``ceil(frac * group_size)`` rows per group — every non-empty
    group retains at least one row — ranked by ``(score DESC,
    doc_id ASC)``; the unique-key tiebreak makes the cut boundary
    deterministic (the pagerank_top20 convention), so re-runs and
    engines agree on the exact row SET. The cut count is
    ``ceil(frac * group_size)`` EVALUATED IN IEEE DOUBLE — a ``frac``
    that is not exactly representable (0.07 * 100 = 7.000...001) can
    round the boundary up one row vs exact rational math; the SQL
    oracle replays the identical double arithmetic, so the row set
    stays cross-engine exact either way.

    Scale shape: ONE shuffle on the group key serving both window
    functions (rank and group size share the partition), then a
    narrow filter — no join back, no second pass. Group state is the
    running rank, never the group's rows.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    w = Window.partitionBy(group_col)
    ranked = df.withColumn(
        "__rk",
        F.row_number().over(
            w.orderBy(F.desc(score_col), F.asc("doc_id"))
        ),
    ).withColumn("__gn", F.count(F.lit(1)).over(w))
    return ranked.filter(
        F.col("__rk") <= F.ceil(F.col("__gn") * F.lit(float(frac)))
    ).drop("__rk", "__gn")


def _unimax_waterfall(
    totals: "dict[str, int]", total_budget: float, epoch_cap: float
) -> "list[tuple[str, float, float]]":
    """The UniMax allocation loop (Chung et al. 2023): sources
    ascending by (token total, name); each takes min(epoch_cap * T_s,
    fair share of the remaining budget). Pure IEEE double arithmetic
    in a fixed order — a SQL recursive CTE replays it to identical
    floats. Returns (source, T, budget) in allocation order."""
    ordered = sorted(totals.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ordered)
    remaining = float(total_budget)
    out = []
    for i, (s, t) in enumerate(ordered):
        fair = remaining / float(n - i)
        b = min(epoch_cap * float(t), fair)
        remaining = remaining - b
        out.append((s, float(t), b))
    return out


def unimax_mix(
    docs: DataFrame,
    total_budget: float,
    epoch_cap: float = 1.0,
    return_alloc: bool = False,
) -> DataFrame:
    """UniMax mixture sampling (Chung et al. 2023): allocate a total
    token budget across sources by the epoch-capped waterfall —
    ascending by size, each source takes ``min(epoch_cap * T_s,
    remaining / sources_left)`` — so small sources are never repeated
    past ``epoch_cap`` epochs and large sources split the leftover
    evenly, the fairer alternative to temperature sampling that
    UniMax's ablations win. This engine SUBSAMPLES to the budget
    (``b_s < T_s``: doc survives iff ``u(doc) * T_s < b_s``, the
    IEEE-exact md5 coin shared with ``weighted_sample``); a budget at
    or above ``T_s`` keeps the source whole — upsampling past 1 epoch
    is the trainer's repeat loop, not a corpus rewrite (documented
    deviation).

    ``return_alloc=True`` returns the allocation table instead:
    ``(source, n_tokens, budget, keep_rate)`` (rounded 6) — the
    mixture recipe itself, hash-gated separately so the waterfall math
    has its own oracle row.

    Scale shape (the ``mix_sources`` contract): ONE narrow token-count
    agg collects the sources-sized dim table; the waterfall runs
    driver-side over those few rows with the exact IEEE ops the SQL
    oracle's recursive CTE replays; the action-time plan is scan +
    broadcast-join + filter — the corpus never shuffles.
    """
    spark = docs.sparkSession
    if total_budget <= 0:
        raise ValueError(f"total_budget ({total_budget}) must be positive")
    if epoch_cap <= 0:
        raise ValueError(f"epoch_cap ({epoch_cap}) must be positive")
    toks = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    staged = docs.withColumn("__nt", toks.cast("long"))
    totals = _source_token_totals(staged)
    alloc = _unimax_waterfall(totals, total_budget, epoch_cap)
    if return_alloc:
        return spark.createDataFrame(
            [
                (s, int(t), round(b, 6), round(min(b / t, 1.0) if t else 0.0, 6))
                for s, t, b in alloc
            ],
            "source string, n_tokens long, budget double, keep_rate double",
        )
    rates = spark.createDataFrame(
        [(s, t, b) for s, t, b in alloc],
        "source string, __T double, __b double",
    )
    return (
        staged.join(F.broadcast(rates), "source")
        .filter(
            _hash_uniform(F.col("doc_id"), "unimax:") * F.col("__T") < F.col("__b")
        )
        .drop("__nt", "__T", "__b")
    )


def temperature_mix(
    docs: DataFrame,
    total_budget: float,
    return_alloc: bool = False,
) -> DataFrame:
    """Temperature-scaled mixture sampling — the multilingual-sampling
    baseline UniMax is measured against (and mT5/XLM-R's actual
    recipe) at temperature 2: source ``s`` gets budget ``B_s = N *
    sqrt(T_s) / sum_t sqrt(T_t)``, flattening the source distribution;
    docs survive the shared md5 coin against ``B_s`` (the
    subsample-only contract of ``unimax_mix``; budgets above ``T_s``
    keep the source whole).

    Cross-engine exactness holds because sqrt is an exactly-specified
    IEEE op (correctly rounded everywhere); other temperatures would go
    through libm ``pow``, whose final-bit rounding varies across
    engines (the `_hash_uniform` hazard note). The weight sum folds over sources in
    ascending name order so the SQL oracle's ``list_sum(list(w ORDER
    BY source))`` replays the identical addition sequence.

    Scale shape: identical to ``mix_sources``/``unimax_mix`` — one
    sources-sized agg collect, driver-side budget math, broadcast-join
    + filter; the corpus never shuffles.
    """
    spark = docs.sparkSession
    if total_budget <= 0:
        raise ValueError(f"total_budget ({total_budget}) must be positive")
    toks = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    staged = docs.withColumn("__nt", toks.cast("long"))
    totals = _source_token_totals(staged)

    import math as _math

    def weight(t: int) -> float:
        return _math.sqrt(float(t))

    ordered = sorted(totals.items())
    sw = 0.0
    for _, t in ordered:
        sw += weight(t)
    alloc = [
        (s, float(t), total_budget * weight(t) / sw if sw else 0.0)
        for s, t in ordered
    ]
    if return_alloc:
        return spark.createDataFrame(
            [
                (s, int(t), round(b, 6), round(min(b / t, 1.0) if t else 0.0, 6))
                for s, t, b in alloc
            ],
            "source string, n_tokens long, budget double, keep_rate double",
        )
    rates = spark.createDataFrame(alloc, "source string, __T double, __b double")
    return (
        staged.join(F.broadcast(rates), "source")
        .filter(
            _hash_uniform(F.col("doc_id"), "temp:") * F.col("__T") < F.col("__b")
        )
        .drop("__nt", "__T", "__b")
    )


def training_order(
    docs: DataFrame,
    seed: str = "torder",
    n_buckets: int = 1024,
) -> DataFrame:
    """Deterministic global training order: ``(doc_id, position)`` with
    ``position`` = the 1-based rank of the doc under a seeded md5
    shuffle — the "shuffle the corpus once, reproducibly" step every
    training run needs. The order is a pure function of (seed, key):
    stable across re-partitioning, re-runs, and engines (the SQL oracle
    is ``row_number() OVER (ORDER BY u, doc_id)`` over the identical
    52-bit coin), and changing ``seed`` is a fresh independent shuffle.

    Scale shape — a DISTRIBUTED RANK, not one global window: a single
    ``Window.orderBy(u)`` would drag the corpus into one task. The coin
    is uniform in [0, 1), so ``floor(u * n_buckets)`` partitions rows
    into ``n_buckets`` BALANCED, order-contiguous slices; within each
    bucket a per-bucket window ranks locally (parallel across buckets)
    and the tiny bucket-counts table's running sum broadcasts back as
    each bucket's global offset — the same two-phase prefix pattern as
    ``text.pack_sequences``. Ties in ``u`` break by ``doc_id``;
    identical keys get identical coins, so ``doc_id`` must be unique
    (the corpus contract).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets ({n_buckets}) must be >= 1")
    salt = f"{seed}:"
    staged = docs.select(
        "doc_id",
        _hash_uniform(F.col("doc_id"), salt).alias("__u"),
    ).withColumn(
        # u in [0,1) exactly, so the bucket index is in [0, n_buckets)
        "__bucket",
        F.floor(F.col("__u") * n_buckets).cast("long"),
    )
    return _bucketed_rank(staged)


def _bucketed_rank(staged: DataFrame) -> DataFrame:
    """Two-phase distributed rank over ``(doc_id, __u, __bucket)``:
    position = the 1-based global rank under (__bucket asc, __u,
    doc_id) — per-bucket windows in parallel + the tiny bucket-counts
    prefix broadcast back as offsets. Correct whenever __bucket is
    MONOTONE in the intended global order (training_order: coin
    buckets; curriculum_order: stage * n_buckets + coin bucket).
    Columns of ``staged`` other than the machinery ride through."""
    keep = [c for c in staged.columns if c not in ("__u", "__bucket")]
    in_bucket = Window.partitionBy("__bucket").orderBy("__u", "doc_id")
    ranked = staged.withColumn("__rn", F.row_number().over(in_bucket))
    btot = staged.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    bprefix = btot.withColumn(
        "__prefix",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__bucket", "__prefix")
    return (
        ranked.join(F.broadcast(bprefix), "__bucket")
        .select(
            *keep, (F.col("__prefix") + F.col("__rn")).alias("position")
        )
    )


def curriculum_order(
    docs: DataFrame,
    score_col: str,
    boundaries: list[float],
    n_buckets: int = 1024,
) -> DataFrame:
    """Curriculum training order: ``(doc_id, stage, position)`` —
    docs are staged by explicit ``score_col`` thresholds and seeded-
    shuffled WITHIN each stage, positions global across stages (stage
    by stage), so a loader reading positions 1..N sees the curriculum:
    all of stage 0 in random order, then stage 1, ... The staging rule
    is ``stage = #{b in boundaries : score >= b}`` re-indexed so stage
    0 holds the HIGHEST scores and trains first (quality-descending
    curricula); thresholds are plain
    IEEE comparisons, so the assignment is cross-engine exact with no
    quantile sort (a global ntile would cost exactly the corpus-wide
    sort this operator exists to avoid — callers wanting quantile
    stages read the cuts off ``approx_value_percentiles``-style stats
    first and pass them here as literals).

    Scale shape: ``training_order``'s two-phase distributed rank with
    the composite bucket ``stage * n_buckets + coin_bucket`` — monotone
    in (stage, u), so per-bucket parallel windows + the broadcast
    bucket-counts prefix give the exact global rank with no global
    sort. Within-stage order is the same independent md5 shuffle,
    seeded ``curriculum``.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets ({n_buckets}) must be >= 1")
    if not boundaries:
        raise ValueError("curriculum_order: boundaries must be non-empty")
    bs = [float(b) for b in boundaries]
    if bs != sorted(bs):
        raise ValueError(f"boundaries must be ascending, got {boundaries}")
    n_stages = len(bs) + 1
    # raw = #{b : score >= b} in [0, n_stages): 0 = lowest scores.
    # NULL-safe on purpose: a NULL score clears every threshold test to
    # 0 (the lowest-score stage) — leaving the NULL to propagate would
    # make the rank engine-dependent (Spark sorts NULL stages first,
    # DuckDB last)
    raw = sum(
        F.when(F.col(score_col) >= F.lit(b), 1).otherwise(0) for b in bs
    )
    stage = F.lit(n_stages - 1) - raw
    salt = "curriculum:"
    staged = docs.select(
        "doc_id",
        stage.cast("int").alias("stage"),
        _hash_uniform(F.col("doc_id"), salt).alias("__u"),
    ).withColumn(
        "__bucket",
        F.col("stage").cast("long") * n_buckets
        + F.floor(F.col("__u") * n_buckets).cast("long"),
    )
    return _bucketed_rank(staged)


def token_budget_mix(docs: DataFrame, budgets: "dict[str, int]") -> DataFrame:
    """Fill per-source TOKEN budgets greedily by score —
    ``(doc_id, source, n_tokens)``: within each source, docs are taken
    in ``(n_chars DESC, doc_id ASC)`` order while the running token total
    of the docs BEFORE them is still under the source's budget, so the
    straddling doc (the first one to cross the line) is included and
    every budgeted source lands within one doc of its target. This is
    the epoch-composition read of a mixing recipe expressed in TOKENS
    (what trainers actually budget) rather than doc counts
    (``quota_sample``) or sampling rates (``mix_sources``). Sources
    without a budget entry are dropped (explicit recipe, not a
    passthrough); budgets must be positive.

    Determinism: token counts are whitespace-split integers and the
    running sum is an integer window — no float boundary anywhere; the
    unique-key tiebreak pins the exact row set cross-engine (the
    ``top_fraction_per_group`` convention).

    Scale shape: ONE shuffle on the source key; the running sum is a
    rows-between window whose state is one long per row, and the
    budget table is a plan-time literal map (sources are a dim-sized
    vocabulary). A pathologically hot source serializes through its
    partition — the same documented trade as every per-group window
    here; pre-aggregate or bucket the scores when a single source is
    a large fraction of 100 TB.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    bad = {s: b for s, b in budgets.items() if int(b) < 1}
    if bad:
        raise ValueError(f"budgets must be >= 1 token: {bad}")
    toks = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    ).cast("long")
    bmap = F.create_map(
        *[x for s, b in sorted(budgets.items()) for x in (F.lit(s), F.lit(int(b)))]
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = docs.withColumn("__nt", toks).withColumn(
        "__cb", F.coalesce(F.sum("__nt").over(w), F.lit(0))
    )
    return (
        staged.withColumn("__b", F.element_at(bmap, F.col("source")))
        .filter(F.col("__b").isNotNull() & (F.col("__cb") < F.col("__b")))
        .select(
            F.col("doc_id"),
            F.col("source"),
            F.col("__nt").alias("n_tokens"),
        )
    )


def calibrate_scores(df: DataFrame, score_col: str, n_buckets: int = 1024) -> DataFrame:
    """Cross-group score calibration: ``(doc_id, source, score,
    calibrated)`` with ``calibrated`` = the score's percent-rank WITHIN
    its ``source``
    (0 = group minimum, 1 = group maximum, ties share a rank) — the
    normalization a mixer needs before comparing quality-classifier
    scores across sources: each source's classifier has its own scale,
    so "keep the global top 30% by raw score" silently drains whichever
    source scores harshly; percent-ranks are uniform within every
    group, making one threshold mean the same thing everywhere.

    percent_rank = (rank - 1) / (n_group - 1), tie-aware (equal scores
    share the MIN rank), 0.0 for single-row or constant-score groups;
    rounded 6 from exact integers, so the SQL oracle's window
    percent_rank replays it bit-for-bit. NOTE the echoed ``score_col``
    column is likewise ROUND-6 NORMALIZED (it sits under the same
    cross-engine hash gate, and a raw double's last bits are not a
    portable rendering) — join back on ``doc_id`` if a downstream
    consumer needs the raw score bits, not on the score value
    (round-13 advisory: the silent mutation was undocumented).

    Contract: ``score_col`` must be non-null (engines disagree on NULL
    sort position — Spark NULLS FIRST vs DuckDB NULLS LAST — so a null
    score has no portable rank; filter or impute first, as
    ``quality_scores``-style producers already guarantee).

    Scale shape — a per-group DISTRIBUTED tie-aware rank, not
    ``Window.partitionBy(group)`` (which drags an entire source into
    one task — at 100 TB a source IS the corpus): rows land in
    (group, score-range bucket) cells — the bucket is a pure IEEE
    expression of (score, group min/max), so equal scores always share
    a cell and ties never span cells — ranked locally per cell in
    parallel, then the tiny (group, bucket) count table's running sum
    broadcasts back as each cell's offset (the ``training_order``
    two-phase prefix pattern). Constant-score groups short-circuit to
    0.0 with a key-hash bucket for balance.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets ({n_buckets}) must be >= 1")
    s = F.col(score_col).cast("double")
    staged = df.select(
        F.col("doc_id").alias("__k"),
        F.col("source").alias("__g"),
        s.alias("__s"),
    )
    bounds = staged.groupBy("__g").agg(
        F.min("__s").alias("__lo"),
        F.max("__s").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    j = staged.join(F.broadcast(bounds), "__g")
    # score-derived bucket: identical IEEE single ops on both engines
    # -> identical cell for identical score; clamp keeps hi in range
    norm = (F.col("__s") - F.col("__lo")) / (F.col("__hi") - F.col("__lo"))
    b = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(
            F.floor(norm * n_buckets).cast("long"), F.lit(int(n_buckets) - 1)
        ),
    ).otherwise(F.pmod(F.hash("__k"), F.lit(int(n_buckets))).cast("long"))
    j = j.withColumn("__b", b)
    # tie-aware local rank: rank() over score ALONE (a key tiebreak in
    # the ORDER BY would split ties and break percent_rank semantics)
    local = F.rank().over(Window.partitionBy("__g", "__b").orderBy("__s"))
    ranked = j.withColumn("__r", local)
    ctot = j.groupBy("__g", "__b").agg(F.count(F.lit(1)).alias("__cn"))
    cprefix = ctot.withColumn(
        "__off",
        F.coalesce(
            F.sum("__cn").over(
                Window.partitionBy("__g")
                .orderBy("__b")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__g", "__b", "__off")
    out = (
        ranked.join(F.broadcast(cprefix), ["__g", "__b"])
        .withColumn("__grank", F.col("__off") + F.col("__r"))
        .select(
            F.col("__k").alias("doc_id"),
            F.col("__g").alias("source"),
            F.round(F.col("__s"), 6).alias(score_col),
            F.when(
                (F.col("__n") > 1) & (F.col("__hi") > F.col("__lo")),
                F.round(
                    (F.col("__grank") - 1).cast("double") / (F.col("__n") - 1), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("calibrated"),
        )
    )
    return out
