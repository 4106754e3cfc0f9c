"""Text-cleaning and PII-scrubbing operators (the Dolma/C4-style hygiene
passes a pretraining corpus gets between extraction and tokenization).

Pure Catalyst projections — regexp chains through the Python column API
(no F.expr, so no SQL-string-literal escaping pitfalls), zero shuffle,
exact ANSI-regex twins for the DuckDB oracle (DuckDB needs the 'g' flag:
its regexp_replace is first-match by default, Spark's is global).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Control characters except \t and \n (\x0B-\x1F keeps \t=09, \n=0A out
# of the kill range); DEL included.
_CTRL_RE = r"[\x00-\x08\x0B-\x1F\x7F]"

# PII patterns (the Dolma public release's shapes: conservative,
# precision-biased — a training corpus prefers leaving an odd string
# over mangling prose).  Order matters: emails first (an email can
# contain digit runs a later pattern might nibble), then IPv4, then
# US-style phone numbers.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PHONE_RE = r"\(?[0-9]{3}\)?[-.\s][0-9]{3}[-.\s][0-9]{4}"


def clean_text_col():
    """Cleaned text as a column expression: control characters stripped,
    space/tab runs collapsed to one space, 3+ newline runs collapsed to
    a paragraph break, ends trimmed."""
    c = F.regexp_replace(F.col("text"), _CTRL_RE, "")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.trim(c)


def clean_text(docs: DataFrame) -> DataFrame:
    """(id, text, n_chars_removed): hygiene pass + how much it removed
    (the count is the corpus-health metric a pipeline monitors)."""
    cleaned = clean_text_col()
    return docs.select(
        F.col("doc_id"), cleaned.alias("text"),
        (F.length(F.col("text")) - F.length(cleaned))
        .cast("bigint").alias("n_chars_removed"))


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(id, text, n_emails, n_ips, n_phones): emails / IPv4 addresses /
    US-style phone numbers replaced with typed placeholder tokens, plus
    per-doc match counts.  The counts are computed on the ORIGINAL text
    in the same projection (no second pass, no shuffle)."""
    t = F.col("text")
    scrubbed = F.regexp_replace(t, _EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, _IPV4_RE, "<IP>")
    scrubbed = F.regexp_replace(scrubbed, _PHONE_RE, "<PHONE>")
    def _n(pat):
        return F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))) \
            .cast("bigint")
    return docs.select(
        F.col("doc_id"), scrubbed.alias("text"),
        _n(_EMAIL_RE).alias("n_emails"),
        _n(_IPV4_RE).alias("n_ips"),
        _n(_PHONE_RE).alias("n_phones"))
