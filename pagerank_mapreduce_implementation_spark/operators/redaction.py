"""PII detection & redaction (engine extension; SURVEY.md §2.4).

The standard scrub pass of a training-data pipeline: find and mask
emails / phone numbers / URLs before text reaches a training set.
Pure narrow column expressions — regexp_count + regexp_replace chains,
zero shuffles, scan-speed at 100 TB, and reproducible in the DuckDB
oracle (patterns are kept inside the RE2 ∩ Java-regex common subset:
no backrefs, no lookaround).

Real deployments extend PATTERNS (SSNs, IBANs, street addresses, NER
models via a Pandas UDF); the dataflow — count, then replace
longest-pattern-first so a URL's embedded host is not half-redacted
by the email pass — is the deliverable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: pattern order matters: URLs first (an email-looking token inside a
#: URL must redact as part of the URL), then emails, then phones.
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

PATTERNS: list[tuple[str, str, str]] = [
    ("urls", URL_RE, "[URL]"),
    ("emails", EMAIL_RE, "[EMAIL]"),
    ("phones", PHONE_RE, "[PHONE]"),
]


def redact_pii(docs: DataFrame) -> DataFrame:
    """Per doc: PII counts + the redacted text:
    ``(doc_id, n_urls, n_emails, n_phones, redacted)``.

    Counts run on the running (previously-masked) text in PATTERNS
    order: only the first pattern (urls) sees the original text; each
    later pattern counts on text already masked by its predecessors.
    So a URL containing an ``@`` is counted once as a URL and zero
    times as an email, because the email count runs on text whose URLs
    are already masked — the same longest-first discipline the
    replacement uses.
    """
    staged = docs.select("doc_id", F.col("text").alias("_t"))
    out_cols: list[Column] = []
    running = F.col("_t")
    for name, pattern, mask in PATTERNS:
        out_cols.append(
            F.regexp_count(running, F.lit(pattern)).alias(f"n_{name}")
        )
        running = F.regexp_replace(running, pattern, mask)
    return staged.select("doc_id", *out_cols, running.alias("redacted"))


#: card-shaped digit run: 13-19 digits, single space/dash separators
#: allowed between digits. RE2 ∩ Java-regex subset (\b, non-capturing
#: group, bounded repeat) so the DuckDB oracle matches byte-for-byte.
CARD_RE = r"\b\d(?:[ -]?\d){12,18}\b"


def luhn_scan(docs: DataFrame) -> DataFrame:
    """Checksum-validated payment-card detection — one row per
    card-shaped candidate: ``(doc_id, card_digits, n_digits,
    luhn_valid)``. A bare 13-19-digit regex false-positives on every
    order id and timestamp in a web corpus; the Luhn check (ISO/IEC
    7812 mod-10) is what separates "digits" from "almost certainly a
    card number" — the precision upgrade a PII scrub pass needs before
    it is allowed to mass-redact.

    The checksum is pure integer column math (reverse the digit
    string, double every second digit, subtract 9 when that overflows
    a decimal digit, sum mod 10 == 0) folded with ``F.aggregate`` over
    a ``sequence`` — order-fixed integer adds, so the DuckDB oracle's
    ``list_sum`` replays it exactly; no floats anywhere.

    Scale shape: per-row ``regexp_extract_all`` + explode + narrow
    arithmetic — zero shuffles, scan speed at 100 TB, and the explode
    fan-out is bounded by candidates-per-doc (card-shaped runs are
    rare in real text). Redaction of the VALID subset is a second
    narrow pass with ``regexp_replace`` gated on this report's doc
    set; detection and action stay separate so the audit table is
    inspectable before anything is destroyed.
    """
    cards = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(CARD_RE), F.lit(0))
        ).alias("card"),
    )
    digits = F.regexp_replace(F.col("card"), r"[^0-9]", "")
    staged = cards.select(
        "doc_id",
        digits.alias("card_digits"),
        F.length(digits).cast("int").alias("n_digits"),
    )
    rev = F.reverse(F.col("card_digits"))
    digit_at = lambda i: F.ascii(F.substring(rev, i, F.lit(1))) - 48  # noqa: E731
    term = lambda i: F.when(  # noqa: E731
        i % 2 == 0,
        F.when(digit_at(i) * 2 > 9, digit_at(i) * 2 - 9).otherwise(digit_at(i) * 2),
    ).otherwise(digit_at(i))
    luhn_sum = F.aggregate(
        F.sequence(F.lit(1), F.col("n_digits")),
        F.lit(0),
        lambda acc, i: acc + term(i),
    )
    return staged.select(
        "doc_id",
        "card_digits",
        "n_digits",
        (luhn_sum % 10 == 0).alias("luhn_valid"),
    )
