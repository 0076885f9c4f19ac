"""Text analysis operators for training-data pipelines.

All hot paths are JVM-side built-in expressions (whole-stage codegen) —
tokenization, ratios, fingerprints compile to Catalyst expressions; no
Python crosses the row path. Each operator has an exact DuckDB-oracle twin
registered in __spark_entry__ (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# A small deterministic stopword list shared by quality scoring and lang-id.
STOPWORDS = [
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
]

# Per-language marker words for the n-gram/stopword language-ID heuristic.
# The driver's synthetic documents are English-ish; markers for other
# languages are standard function words.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization with normalization: lowercase, collapse
    whitespace, strip. Stays in codegen. The library's one tokenizer:
    fingerprints, lang-id, quality, the dedup shingle and SimHash kernels
    and the contamination tiers all read it. Java semantics: ``\\s`` is
    ``[ \\t\\n\\x0B\\f\\r]`` (not NBSP, U+2003 or ``\\x1c``-``\\x1f``) and
    ``trim`` strips spaces only. NOTE: empty/whitespace-only
    text yields [''] (split-of-empty semantics, identical in DuckDB's
    string_split — every oracle mirrors it), so token_count reports 1
    for an empty document; filter empty docs upstream when that
    matters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def char_ngrams(col: str | Column, n: int) -> Column:
    """All character n-grams of a string as an array (JVM-side via
    sequence + transform — no UDF). Strings shorter than n yield an
    empty array (sequence(1, 0) would count DOWN and emit two phantom
    grams; the floor-at-1 + length filter makes the short case empty)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        ),
        lambda g: F.length(g) == n,
    )


def stopword_ratio(col: str | Column = "text") -> Column:
    toks = tokens(col)
    stop = F.filter(toks, lambda t: t.isin(STOPWORDS))
    return F.size(stop) / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def quality_score(col: str | Column = "text") -> Column:
    """Composite quality heuristic in (-1, 1]: length band + stopword
    presence − punctuation excess (an all-punctuation document scores
    near -1 — the subtraction is deliberately unclamped so junk sorts
    below empty). Deterministic, SQL-expressible; the DuckDB oracle
    mirrors the exact formula, so the range must not be re-clamped on
    one side only."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c) / F.lit(400.0), F.lit(1.0))
    return F.round(
        0.5 * len_score + 0.5 * stopword_ratio(c) - punct_ratio(c), 6
    )


def fingerprint(col: str | Column = "text") -> Column:
    """Document fingerprint: md5 of the normalized token stream. Identical
    in DuckDB (md5 over the same normalization), so near-free exact-dup
    detection and an oracle-able key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.array_join(tokens(c), " "))


def lang_id(col: str | Column = "text") -> Column:
    """Marker-word language ID: score each candidate language by marker
    hits per token; argmax with 'und' fallback when nothing matches."""
    toks = tokens(col)

    def marker_filter(markers):
        # NOTE: must close over ``markers`` via a factory, not a default
        # arg — a two-parameter lambda makes F.filter bind the second
        # parameter to the array *index* column.
        return lambda t: t.isin(markers)

    scores = [
        (lang, F.size(F.filter(toks, marker_filter(markers))))
        for lang, markers in LANG_MARKERS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so that earlier languages win ties deterministically
    for lang, score in reversed(scores):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# PII patterns chosen from the Spark-Java-regex ∩ DuckDB-RE2 dialect
# intersection so the oracle mirrors them verbatim: character classes,
# {m,} quantifiers, and \b behave identically in both engines. DuckDB
# needs the 'g' flag (its regexp_replace is first-match by default;
# Spark's is always global).
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^ ]+", "<URL>"),
    (r"\b[0-9]{9,}\b", "<ID>"),
]


def redact_pii(col: str | Column = "text") -> Column:
    """PII redaction for training corpora, fully in codegen: emails,
    URLs, and long digit runs (phone/account-ish ids) each replaced by a
    typed placeholder token. Order matters and is fixed: emails first
    (an email must not have its domain eaten by the URL rule), then
    URLs, then digit runs (placeholders contain no digits, so earlier
    redactions never re-trigger later rules). A regex pass is scrubbing,
    not NER — it catches the formats above, not names or free-form
    addresses; it is the deterministic, oracle-able first tier every
    pipeline runs before any model-based pass."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c
