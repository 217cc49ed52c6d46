"""PII detection and redaction for the training-data tier.

Pre-training corpora are scrubbed of emails / IPs / phone numbers /
SSN-like ids before tokenization; the reference pipeline has no such
stage (its logs are already public CI output), so this operator is
part of the large-scale-pipeline extension tier, same as dedup and
quality scoring.

Everything is pure Catalyst (`regexp_count` / `regexp_replace`) —
per-row expressions inside whole-stage codegen, zero shuffles, scan
+ project only, so the plan is a single stage at any corpus size.
The patterns are chosen to parse identically under Java regex
(Spark) and RE2 (DuckDB): no backreferences, no lookaround.

The synthetic documents contain no natural PII, so the gate query
plants it deterministically from doc_id (`attach_pii`), mirrored
byte-for-byte by the DuckDB oracle (oracle_data.q_pii_scrub).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RX = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PHONE_RX = r"\b\d{3}-\d{3}-\d{4}\b"
SSN_RX = r"\b\d{3}-\d{2}-\d{4}\b"

# (column stem, pattern, replacement token); applied in this order.
# The four patterns are mutually non-overlapping on any input (an
# SSN's 2-digit middle group can never satisfy the phone pattern and
# vice versa), so application order does not change the output — but
# both engines still apply them identically.
PII_RULES: list[tuple[str, str, str]] = [
    ("emails", EMAIL_RX, "<EMAIL>"),
    ("ipv4", IPV4_RX, "<IP>"),
    ("phones", PHONE_RX, "<PHONE>"),
    ("ssns", SSN_RX, "<SSN>"),
]


def attach_pii(docs: DataFrame) -> DataFrame:
    """Deterministically plant PII spans derived from doc_id.

    Independent modulus classes so some docs carry several kinds and
    some carry none; all numeric fields have fixed digit widths so
    the \\b-anchored patterns match exactly once per planted span.
    """
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    spans = [
        (
            d % 3 == 0,
            F.concat(F.lit(" contact user"), s(d), F.lit("@example.com")),
        ),
        (
            d % 4 == 1,
            F.concat(
                F.lit(" from 10."), s(d % 200), F.lit(".0."), s(d % 250)
            ),
        ),
        (
            d % 5 == 2,
            F.concat(
                F.lit(" call 555-"),
                s(d % 900 + 100),
                F.lit("-"),
                s(d % 9000 + 1000),
            ),
        ),
        (
            d % 7 == 3,
            F.concat(
                F.lit(" ssn "),
                s(d % 900 + 100),
                F.lit("-"),
                s(d % 90 + 10),
                F.lit("-"),
                s(d % 9000 + 1000),
            ),
        ),
    ]
    text = F.col("text")
    for cond, span in spans:
        text = F.concat(text, F.when(cond, span).otherwise(F.lit("")))
    return docs.withColumn("pii_text", text)


def pii_scrub(docs: DataFrame, text_col: str = "pii_text") -> DataFrame:
    """Per-kind PII counts (over the ORIGINAL text) + redacted text.

    Returns (doc_id, n_emails, n_ipv4, n_phones, n_ssns, n_pii,
    redacted).
    """
    text = F.col(text_col)
    raw = [F.regexp_count(text, F.lit(rx)) for _, rx, _ in PII_RULES]
    counts = [
        c.alias(f"n_{stem}") for c, (stem, _, _) in zip(raw, PII_RULES)
    ]
    total = raw[0]
    for c in raw[1:]:
        total = total + c
    redacted = text
    for _, rx, token in PII_RULES:
        redacted = F.regexp_replace(redacted, rx, token)
    return docs.select(
        "doc_id", *counts, total.alias("n_pii"), redacted.alias("redacted")
    )


def pseudonymize(
    df: DataFrame,
    cols: list[str],
    salt: str = "p1",
) -> DataFrame:
    """Keyed pseudonymization of identifier columns — the privacy
    pass between pii_scrub (free-text redaction) and k_anon_audit
    (cohort-size verification): replace each identifier with a
    STABLE salted token so datasets remain joinable and group-by
    analytics keep working, while the raw identifier never leaves
    the engine. token = 'p_' + first 16 hex chars of
    md5(salt || \\x01 || value): deterministic under a fixed salt
    (the join key survives across tables pseudonymized with the
    same salt), rotated wholesale by rotating the salt — the
    standard revocable-pseudonym scheme. NULL stays NULL (absence
    is not an identifier); 64 bits of token keeps the birthday
    bound comfortable at 10^12 distinct keys (~3e-5 collision odds
    corpus-wide).

    Per-row codegen expression per column, zero shuffles; the md5
    is the repo's cross-engine parity hash, so the DuckDB twin
    reproduces tokens bit-for-bit.
    """
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"pseudonymize: unknown columns {missing}")
    out = df
    for c in cols:
        tok = F.concat(
            F.lit("p_"),
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.lit("\x01"),
                        F.col(c).cast("string"),
                    ).cast("binary")
                ),
                1,
                16,
            ),
        )
        out = out.withColumn(
            c, F.when(F.col(c).isNotNull(), tok)
        )
    return out
