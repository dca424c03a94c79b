"""PII redaction — the scrubbing pass training-data pipelines run after
extraction and before tokenization.

All patterns live in the common subset of Java regex (Spark) and RE2
(DuckDB) — no lookbehind, no backrefs — so redaction is exactly
oracle-checkable cross-engine. Everything is a native regexp_replace /
regexp_count projection: zero Python, zero shuffles, filter-pushdown
friendly.

Scale note (100 TB): this is a pure map stage; at 10^12 rows the only
cost is the regex scan itself, fused into whole-stage codegen with the
rest of the projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Ordered: emails first (their local part may look digit-heavy), then
# IPv4, then phone-ish digit runs on what remains.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+?\d[\d ()-]{7,}\d"

EMAIL_TOKEN = "[EMAIL]"
IP_TOKEN = "[IP]"
PHONE_TOKEN = "[PHONE]"


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, clean_text, n_emails, n_ips, n_phones): scrubbed text plus
    per-kind hit counts (counted on the pre-redaction text, in the same
    order the replaces run so counts equal replacements made)."""
    text = F.col(text_col)
    after_email = F.regexp_replace(text, EMAIL_RE, EMAIL_TOKEN)
    after_ip = F.regexp_replace(after_email, IPV4_RE, IP_TOKEN)
    # clean_text extends the SAME chain the counts use — each regex scans
    # the row once, not twice (don't rely on Catalyst CSE inside a select)
    return df.select(
        F.col(id_col),
        F.regexp_replace(after_ip, PHONE_RE, PHONE_TOKEN).alias("clean_text"),
        F.regexp_count(text, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(IPV4_RE)).alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PHONE_RE)).alias("n_phones"),
    )


# --- secrets scrubbing (r02) -------------------------------------------------
# Transcripts of AGENT sessions leak credentials far more often than web
# text leaks phone numbers — tool outputs echo env vars, API responses,
# and pasted configs. Same design rules as the PII pass: Java-regex ∩ RE2
# subset only, ordered replaces, counts on the pre-replacement chain.

PRIVATE_KEY_RE = r"-----BEGIN [A-Z ]+PRIVATE KEY-----"
AWS_KEY_RE = r"\bAKIA[0-9A-Z]{16}\b"
GH_TOKEN_RE = r"\bgh[pousr]_[A-Za-z0-9]{36,}\b"
BEARER_RE = r"(?i)\bbearer +[A-Za-z0-9._~+/=-]{16,}"
# separator form only: a bare 16-digit run is indistinguishable from the
# phone class (which the PII pass already masks)
CC_RE = r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b"

SECRET_TOKENS = {
    "private_keys": (PRIVATE_KEY_RE, "[PRIVATE_KEY]"),
    "aws_keys": (AWS_KEY_RE, "[AWS_KEY]"),
    "gh_tokens": (GH_TOKEN_RE, "[GH_TOKEN]"),
    "bearer_tokens": (BEARER_RE, "[BEARER]"),
    "cards": (CC_RE, "[CARD]"),
}


def redact_secrets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, clean_text, n_<kind>...): credential scrubbing with per-kind
    hit counts — ordered so specific token shapes (AWS/GitHub) are
    counted before the generic bearer pattern could swallow them. Pure
    regexp projection: zero Python, zero shuffle."""
    chain = F.col(text_col)
    counts = []
    for kind, (pat, token) in SECRET_TOKENS.items():
        counts.append(F.regexp_count(chain, F.lit(pat)).alias(f"n_{kind}"))
        chain = F.regexp_replace(chain, pat, token)
    return df.select(F.col(id_col), chain.alias("clean_text"), *counts)
