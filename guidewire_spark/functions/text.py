"""Text-analysis column expressions (SURVEY.md §2.5).

Everything is built from pyspark.sql.functions so it runs JVM-side:
tokenization, n-gram shingling, quality metrics, language-ID
heuristics, rolling-hash fingerprints. Each has an exact ANSI-SQL
twin, which the DuckDB oracles in operators/llm.py mirror.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic — the point is the
# operator shape (per-language hit counting + argmax), not lexicography.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}

# BPE-ish token pattern: runs of word chars, or single non-space
# non-word chars (mirrors the pre-tokenizers used by GPT-style BPE).
BPE_TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def words(text: Column) -> Column:
    """Whitespace tokenization (empty strings removed; ``split`` never
    yields a null element, so ``array_remove`` drops exactly the
    empties a leading or trailing run leaves)."""
    return F.array_remove(F.split(text, r"\s+"), "")


def word_count(text: Column) -> Column:
    return F.size(words(text))


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\-]", ""))
    return punct / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of words that are stopwords for ``lang``."""
    hits = F.size(
        F.filter(words(F.lower(text)), lambda w: w.isin(*LANG_STOPWORDS[lang]))
    )
    return hits / F.greatest(word_count(text), F.lit(1))


def stopword_hits(text_lower_words: Column, lang: str) -> Column:
    """Count of words that are in ``lang``'s stopword list."""
    return F.size(
        F.filter(text_lower_words, lambda w: w.isin(*LANG_STOPWORDS[lang]))
    )


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, 1]: penalize extreme length,
    high punctuation density and single-char words."""
    wc = word_count(text)
    avg_word_len = F.length(text) / F.greatest(wc, F.lit(1))
    len_ok = F.when((wc >= 5) & (wc <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = 1.0 - F.least(punct_ratio(text) * 5, F.lit(1.0))
    word_len_ok = F.when((avg_word_len >= 3) & (avg_word_len <= 12), 1.0).otherwise(0.5)
    return F.round((len_ok + punct_ok + word_len_ok) / 3.0, 6)


def char_ngrams(text: Column, n: int) -> Column:
    """Character n-gram shingles via sequence+transform (JVM-side)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(n)),
    )


def word_shingles(text: Column, k: int) -> Column:
    """k-word shingles joined with a space — the MinHash/Jaccard unit."""
    ws = words(text)
    n = F.size(ws)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(ws, i + 1, k)),
    )


def polynomial_fingerprint(tokens: Column) -> Column:
    """Order-sensitive rolling-hash document fingerprint.

    fold(acc, w) = (acc * 31 + ascii(first char of w) + length(w)) mod 2^31-1
    — pure integer arithmetic, expressible identically in ANSI SQL, so
    the oracle can verify it exactly (unlike engine hash builtins).
    """
    return F.aggregate(
        tokens,
        F.lit(7).cast("bigint"),
        lambda acc, w: (acc * 31 + F.ascii(w) + F.length(w)) % F.lit(2147483647),
    )
