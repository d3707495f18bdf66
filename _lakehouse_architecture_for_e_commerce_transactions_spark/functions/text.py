"""Text-analysis column expressions (training-data-pipeline surface).

All pure JVM-side ``pyspark.sql.functions`` compositions — no Python UDFs in
the hot path, so every expression stays inside whole-stage codegen and is
oracle-reproducible in ANSI SQL (the DuckDB correctness gate).

Ops: tokenization, token/char statistics, punctuation ratio, quality score,
stopword-lexicon language ID, content fingerprinting, word n-gram shingles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny public stopword lexicons for the n-gram/lexicon language-ID heuristic
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "und", "die", "das", "nicht"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "de", "que", "y", "en"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space corpora split exactly; general
    whitespace handled by the regex)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via replace-shrinkage — identical
    semantics in Spark and ANSI SQL (length(x)-length(replace(x,n,'')))/len(n).
    """
    return (
        F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))
    ) / len(needle)


def word_occurrences(text: Column, word: str) -> Column:
    """Whole-word occurrences: pad with spaces so boundaries match."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return occurrences(padded, f" {word} ")


def punct_count(text: Column) -> Column:
    """Characters that are not alphanumeric/space — regexp class is shared
    ANSI/RE2/Java syntax so Spark and the oracle agree."""
    return F.length(F.regexp_replace(text, r"[A-Za-z0-9 ]", ""))


def avg_token_len(text: Column) -> Column:
    """(total chars - separators) / token count, as double."""
    n = token_count(text)
    return (F.length(text) - (n - F.lit(1))) / n


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality score: favors mid-length documents with low
    punctuation density and diverse tokens (public-style heuristics à la
    Gopher/C4 rules, re-expressed as one arithmetic expression).

    score = length_term * diversity_term * (1 - punct_ratio)
    """
    n_chars = F.length(text).cast("double")
    length_term = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    diversity = distinct_token_count(text).cast("double") / token_count(text)
    punct_ratio = punct_count(text).cast("double") / n_chars
    return F.round(length_term * diversity * (F.lit(1.0) - punct_ratio), 6)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit totals (the lexicon half of an n-gram
    language identifier; deterministic and SQL-expressible)."""
    return {
        lang: sum(
            (word_occurrences(text, w) for w in words), start=F.lit(0.0)
        ).cast("double")
        for lang, words in STOPWORDS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax over lang_scores with a fixed tie-break order (en,de,fr,es);
    'und' (undetermined) when no lexicon hits at all."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    expr = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        expr = F.when((s[lang] > 0) & (s[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def let(col: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``col`` once per row and pass
    it to ``body`` as a lambda variable. Spark performs no common-
    subexpression elimination *into* higher-order-function lambdas, so an
    expression captured by a ``transform``/``filter`` lambda re-evaluates
    per array element — binding it as the lambda variable of a 1-element
    ``transform`` makes it a per-row attribute instead (5× on the n-gram
    hot path: the tokenizing regex split runs once per document, not once
    per window)."""
    return F.element_at(F.transform(F.array(col), body), 1)


def _gram_join(t: Column, n: int) -> Column:
    count = F.size(t) - F.lit(n - 1)
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))


def ngram_list(text: Column, n: int) -> Column:
    """All word n-grams in order (with repeats — the occurrence stream,
    unlike ``shingles`` which dedups)."""
    return let(tokens(text), lambda t: _gram_join(t, n))


def duplicate_ngram_fraction(text: Column, n: int) -> Column:
    """Gopher-style repetition signal: the fraction of n-gram *occurrences*
    that are repeats of an earlier occurrence — (total − distinct) / total.
    0.0 for documents shorter than ``n`` tokens. Pure array arithmetic per
    row (no shuffle, no UDF)."""
    def frac(grams: Column) -> Column:
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        return F.when(
            total > 0, (total - distinct) / total.cast("double")
        ).otherwise(F.lit(0.0))

    return let(ngram_list(text, n), frac)


def top_token_fraction(text: Column) -> Column:
    """Share of the document taken by its single most frequent token — the
    other classic repetition gate (a page that is 40% one token is boiler-
    plate). O(distinct × tokens) array work per row; fine for documents,
    and still embarrassingly parallel at corpus scale."""
    def frac(toks: Column) -> Column:
        counts = F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
        return F.array_max(counts) / F.size(toks).cast("double")

    return let(tokens(text), frac)


def fingerprint(text: Column) -> Column:
    """Stable 128-bit content fingerprint (md5 hex) for exact-content dedup;
    identical in Spark and DuckDB so fingerprints are oracle-checkable."""
    return F.md5(text)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    Built from JVM array functions (transform over a sequence of slice
    offsets) — no UDF, no explode until the caller chooses to.
    """
    # guard inside _gram_join: sequence(1, 0) would generate a
    # *descending* [1, 0] in Spark
    return F.array_distinct(let(tokens(text), lambda t: _gram_join(t, n)))
