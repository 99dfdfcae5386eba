"""Text-analysis functions for a training-data pipeline, all Catalyst
expressions (JVM-side, codegen'd; no Python in the hot path).

These generalize the reference's per-record text munging (log line parsing,
`activedata_etl/transforms/unittest_logs_to_sink.py:126-372`; field scrubbing
`vendor/pyLibrary/env/rollover_index.py:266-294`) into the standard
web-scale-corpus operators: token counting, quality scoring, language ID,
document fingerprinting.

Every formula here is deliberately expressible in ANSI SQL so the DuckDB
oracle can replicate it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny public stopword lists per language (heuristic n-gram language ID)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "fr": ["le", "la", "les", "des", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
}

FINGERPRINT_MOD = 1_000_000_007


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (BPE-ish regex variant below)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\S+"), 0))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: words, numbers, and punctuation as separate tokens."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    n = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    return n / F.greatest(F.length(text), F.lit(1))


def digit_ratio(text: Column) -> Column:
    n = F.size(F.regexp_extract_all(text, F.lit("[0-9]"), 0))
    return n / F.greatest(F.length(text), F.lit(1))


STOPWORDS = ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"]
STOPWORD_RE = r"\b(" + "|".join(STOPWORDS) + r")\b"


def stopword_ratio(text: Column) -> Column:
    """Stopword tokens / all tokens — the classic quality signal (too low =
    keyword soup / boilerplate, too high = filler)."""
    hits = F.size(F.regexp_extract_all(F.lower(text), F.lit(STOPWORD_RE), 0))
    return hits / F.greatest(token_count(text), F.lit(1))


def mean_token_len(text: Column) -> Column:
    toks = token_count(text)
    nonspace = F.length(F.regexp_replace(text, r"\s+", ""))
    return nonspace / F.greatest(toks, F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish quality heuristic: long enough, not punct/digit
    soup, sane word lengths.  Same closed formula as the SQL oracle."""
    toks = token_count(text).cast("double")
    len_score = F.least(toks / F.lit(100.0), F.lit(1.0))
    punct_pen = F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    digit_pen = F.least(digit_ratio(text) * 4.0, F.lit(1.0))
    mtl = mean_token_len(text)
    word_score = F.when((mtl >= 3) & (mtl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        0.4 * len_score + 0.3 * (1.0 - punct_pen) + 0.1 * (1.0 - digit_pen)
        + 0.2 * word_score,
        6,
    )


def lang_hits(text: Column, lang: str) -> Column:
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def lang_id(text: Column) -> Column:
    """argmax over stopword-hit counts; ties break in en>es>fr>de order."""
    en, es, fr, de = (lang_hits(text, x) for x in ("en", "es", "fr", "de"))
    return (
        F.when((en >= es) & (en >= fr) & (en >= de), F.lit("en"))
        .when((es >= fr) & (es >= de), F.lit("es"))
        .when(fr >= de, F.lit("fr"))
        .otherwise(F.lit("de"))
    )


# PII patterns shared by the scrubber and its counters.  Regex dialect is
# the intersection of Java regex (Spark) and RE2 (DuckDB): character
# classes, bounded repeats, ASCII \b — no lookaround, no backreferences.
# Order matters: emails first (they contain digits and dots that the later
# patterns would otherwise mangle), then IPv4, then long digit runs
# (card/phone-shaped: 9+ digits allowing space/dash separators).
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d[\d \-]{7,}\d\b", "<NUM>"),
]


def pii_scrub(text: Column) -> Column:
    """Redact emails, IPv4 addresses, and long digit runs with typed
    placeholders — the standard pre-training scrub pass.

    Chained ``regexp_replace`` (JVM, codegen'd); patterns are applied in
    ``PII_PATTERNS`` order so a replacement never creates a later match.
    The reference's analog is field scrubbing before indexing
    (`vendor/pyLibrary/env/rollover_index.py:266-294`).
    """
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, n_nums) found by the scrubber's own patterns.

    Counted on the PROGRESSIVELY scrubbed text exactly as ``pii_scrub``
    sees it, so an email's digits are never double-counted as a number run.
    """
    counts = []
    cur = text
    for pat, repl in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(cur, F.lit(pat), 0)))
        cur = F.regexp_replace(cur, pat, repl)
    return tuple(counts)


def chunk_text(text: Column, size: int) -> Column:
    """Split a document into fixed-width character chunks (the pre-chunk
    step before sequence packing — `operators.sampling.pack_sequences`
    assigns a WHOLE doc to the pack where it starts, so oversize docs
    should be chunked first).

    Returns an ``array<string>`` of ceil(len/size) pieces in order; empty
    or null text yields an empty array (never null — downstream explodes
    should use the ``_outer`` variants regardless, per the inferred-
    generate-filter hazard).  Pure Catalyst sequence+transform.
    """
    if size <= 0:
        raise ValueError("chunk size must be positive")
    n = F.ceil(F.length(text) / F.lit(size)).cast("int")
    return F.when(
        F.coalesce(n, F.lit(0)) <= 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.substring(text, i * size + 1, size),
        )
    )


PARAGRAPH_SEP = "\n\n"


def dedup_paragraphs(text: Column, sep: str = PARAGRAPH_SEP) -> Column:
    """Remove repeated paragraphs within a document, keeping each distinct
    paragraph's FIRST occurrence in order — the standard intra-doc
    repetition scrub (boilerplate, templating, crawler echo).

    Pure Catalyst: ``array_distinct`` is documented to preserve
    first-occurrence order, so split → distinct → join is one codegen'd
    expression per row — no explode, no shuffle, no Python.
    """
    return F.array_join(F.array_distinct(F.split(text, sep)), sep)


def paragraph_counts(text: Column, sep: str = PARAGRAPH_SEP) -> tuple[Column, Column]:
    """(n_paragraphs, n_unique_paragraphs) — the repetition signal a
    pipeline filters on (e.g. drop docs with unique/total below 0.3)."""
    ps = F.split(text, sep)
    return F.size(ps), F.size(F.array_distinct(ps))


def fingerprint(text: Column) -> Column:
    """Positional rolling fingerprint: sum(ascii(char_i) * i) mod p.

    Pure Catalyst: split to chars, positional transform, aggregate —
    whole-stage-codegen friendly and identical to the SQL-oracle formula.
    """
    chars = F.split(text, "")
    weighted = F.transform(chars, lambda c, i: F.ascii(c).cast("long") * (i + 1))
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.pmod(total, F.lit(FINGERPRINT_MOD))
