"""Text-analysis expression helpers (north-star C4; SURVEY.md §2.c).

Everything is a Catalyst expression (JVM-side, codegen) — language ID,
quality scoring, token counting, and fingerprinting all run as narrow map
stages at 100 TB with no shuffle and no Python.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

#: Tiny high-frequency marker lists per language for the n-gram/stopword
#: language-ID heuristic.  Deterministic and SQL-oracle-able.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
}

#: A BPE-ish word/number/punctuation splitter: runs of letters, runs of
#: digits, or single non-space symbols — a public-domain approximation of
#: byte-pair pretokenization.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


#: Zero-width code points stripped by normalize_text (ZWSP, ZWNJ, ZWJ,
#: BOM) — embedded as literal characters (not \x{…} escapes, whose syntax
#: differs between Java regex and RE2).
ZERO_WIDTH_RE = "[​‌‍﻿]"
#: Whitespace runs collapsed to a single space.
WS_RUN_RE = "[ \t\r\n]+"


def normalize_text(text: Column) -> Column:
    """Corpus-cleaning normalization: strip zero-width code points,
    collapse whitespace runs (space/tab/CR/LF) to single spaces, trim.

    The standard pre-tokenization cleanup for web-crawl text.  Both
    patterns live in the portable Java∩RE2 regex subset so the DuckDB
    oracle runs the exact same expressions.  Pure narrow map — zero
    shuffle at any scale.
    """
    stripped = F.regexp_replace(text, ZERO_WIDTH_RE, "")
    return F.trim(F.regexp_replace(stripped, WS_RUN_RE, " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.trim(text), r"\s+")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """n-gram shingles from an ALREADY-MATERIALIZED token array column.

    IMPORTANT perf note: `toks` must be a bound column reference (stage the
    tokenization in a prior select), not an inline `split(...)` expression —
    Catalyst does not common-subexpression-eliminate inside higher-order
    function lambdas, so an inline split would be re-evaluated for every
    element_at (measured ~8× slowdown on the shingle explode).
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    make = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
    )
    return F.when(F.size(toks) >= n, F.transform(idx, make)).otherwise(
        F.array().cast("array<string>")
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (see BPE_TOKEN_RE)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0,1]:
    length component (saturating at 200 tokens), mean-token-length component
    (peaking near 5 chars), and symbol-ratio penalty.
    """
    n = token_count_ws(text).cast("double")
    len_c = F.least(n / F.lit(200.0), F.lit(1.0))
    mean_tok = F.length(F.regexp_replace(text, r"\s+", "")) / F.greatest(n, F.lit(1.0))
    shape_c = F.lit(1.0) - F.least(F.abs(mean_tok - F.lit(5.0)) / F.lit(5.0), F.lit(1.0))
    sym = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", "")) / F.greatest(
        F.length(text).cast("double"), F.lit(1.0)
    )
    return F.round(F.lit(0.5) * len_c + F.lit(0.3) * shape_c + F.lit(0.2) * (1 - sym), 6)


#: PII patterns in the portable Java-regex ∩ RE2 subset (no lookarounds,
#: no backrefs) so the exact same pattern runs in Spark and the oracle.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def redact_pii(text: Column) -> Column:
    """Replace emails then phone-shaped digit runs with typed placeholders.

    A narrow map over the corpus — the canonical pre-training scrub stage.
    Spark's regexp_replace is global by default; the DuckDB oracle needs the
    explicit 'g' flag (see queries/x3_series.py x26).
    """
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def repetition_ratio(toks: Column) -> Column:
    """1 − |distinct tokens| / |tokens| — the classic repetitiveness signal
    for training-data quality filtering (0 = all unique, →1 = degenerate).

    Takes a STAGED token-array column (see shingles_from_tokens perf note).
    Pure expression form: O(n log n)-ish per row, zero shuffle — for very
    long documents prefer the explode+groupBy formulation (same values,
    shuffle ∝ distinct tokens) used by the x25 oracle.
    """
    n = F.size(toks).cast("double")
    return F.lit(1.0) - F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1.0))


def top_token_ratio(toks: Column) -> Column:
    """Frequency share of the single most common token — high values flag
    boilerplate/spam.  Same staging/scale notes as repetition_ratio; the
    per-row cost is O(distinct · n), fine for natural documents, so switch
    to explode+groupBy beyond ~10k-token rows."""
    counts = F.transform(
        F.array_distinct(toks), lambda d: F.size(F.filter(toks, lambda x: x == d))
    )
    n = F.size(toks).cast("double")
    return F.array_max(counts) / F.greatest(n, F.lit(1.0))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: hex digest prefix of the
    normalized text (whitespace-collapsed, lowercased).  16 hex chars = 64
    bits.  Hash-based rather than a hand-rolled rolling hash so the exact
    same value is computable by any engine with md5().
    """
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.substring(F.md5(norm), 1, 16)


#: The Gopher-rules stopword list (Rae et al. 2021, arXiv:2112.11446,
#: table A1: "must contain ≥2 of the, be, to, of, and, that, have, with").
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_metrics(toks: Column, text: Column) -> dict[str, Column]:
    """Per-document Gopher quality-rule metrics (Rae et al. 2021,
    arXiv:2112.11446 appendix A1.1) as pure narrow-map expressions.

    ``toks`` must be a bound attribute (stage ``tokens(text)`` in a prior
    projection — the shingles_from_tokens CSE rule applies to every
    higher-order-function consumer, including these filters).

    Metrics: word count, mean word length, fraction of words containing
    an alphabetic character, symbol-to-word ratio ('#' and ellipsis),
    stopword hits.  All ratios rounded to 6dp so the rule comparisons
    evaluate identically cross-engine.
    """
    n = F.size(toks)
    nd = F.greatest(n, F.lit(1)).cast("double")
    total_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    n_sym = F.length(F.regexp_replace(text, "[^#…]", "")) + F.lit(3) * F.size(
        F.split(text, r"\.\.\.", -1)
    ) - F.lit(3)
    n_stop = F.size(F.filter(toks, lambda x: F.lower(x).isin(*GOPHER_STOPWORDS)))
    return {
        "n_words": n,
        "mean_word_len": F.round(total_len / nd, 6),
        "frac_alpha": F.round(n_alpha / nd, 6),
        "symbol_ratio": F.round(n_sym / nd, 6),
        "n_stop": n_stop,
    }


def gopher_pass(m: dict[str, Column]) -> Column:
    """The conjunction of the Gopher rules over ``gopher_metrics`` output:
    50 ≤ words ≤ 100 000, mean word length in [3, 10], ≥80% alphabetic
    words, symbol ratio ≤ 0.1, ≥2 stopwords.  Comparisons run on the
    6dp-rounded metrics so both engines agree at rule boundaries."""
    return (
        (m["n_words"] >= 50)
        & (m["n_words"] <= 100_000)
        & (m["mean_word_len"] >= 3.0)
        & (m["mean_word_len"] <= 10.0)
        & (m["frac_alpha"] >= 0.8)
        & (m["symbol_ratio"] <= 0.1)
        & (m["n_stop"] >= 2)
    ).cast("int")


def char_entropy(text: Column) -> Column:
    """Character-level Shannon entropy (nats), fully JVM-side: fold over
    the SORTED distinct-char array, counting occurrences of each char as
    ``len(s) - len(replace(s, ch))`` — O(alphabet × len) string ops, no
    explode, no shuffle.  The sort pins the float summation order so any
    engine folding the same sorted alphabet produces the same double;
    ``0.0 - Σ`` (not unary minus) keeps the all-one-char case at +0.0.
    """
    n = F.length(text).cast("double")
    chars = F.array_sort(F.array_distinct(F.split(text, "")))

    def term(acc, ch):
        p = (F.length(text) - F.length(F.replace(text, ch))) / n
        return acc + p * F.log(p)

    return F.lit(0.0) - F.aggregate(chars, F.lit(0.0), term)


def char_class_profile(text: Column) -> dict[str, Column]:
    """Character-class composition ratios (digit / uppercase / space) —
    the cheap junk detectors (number dumps, shouty boilerplate, ascii
    art) that complement token-level quality rules.  Pure narrow-map
    regexp arithmetic; rounded 6dp for cross-engine comparability."""
    nd = F.length(text).cast("double")

    def ratio(pattern: str) -> Column:
        return F.round(F.length(F.regexp_replace(text, pattern, "")) / nd, 6)

    return {
        "digit_ratio": ratio(r"[^0-9]"),
        "upper_ratio": ratio(r"[^A-Z]"),
        "space_ratio": ratio(r"[^ ]"),
    }
