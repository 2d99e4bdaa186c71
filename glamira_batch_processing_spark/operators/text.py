"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language ID
(stopword heuristic), quality scoring, token counting, document
fingerprinting. All pure Column expressions — JVM-side, codegen'd, no
UDFs — so they run at full scan speed over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "to", "and", "in"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "y", "es"),
}

#: BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def words(text: Column) -> Column:
    """Single-space word split of lowercased text."""
    return F.split(F.lower(text), " ")


def stopword_count(text: Column, stopwords: tuple[str, ...]) -> Column:
    """How many word tokens are in ``stopwords`` (with multiplicity)."""
    sw = list(stopwords)

    def is_stop(w: Column) -> Column:
        return w.isin(sw)

    return F.size(F.filter(words(text), is_stop))


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: stopword_count(text, sws) for lang, sws in LANG_STOPWORDS.items()
    }


def predict_lang(text: Column) -> Column:
    """argmax language by stopword hits; ties break in en>de>fr>es order."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    expr = F.when(F.lit(False), F.lit(None))
    for lang in LANG_STOPWORDS:  # dict order = deterministic tie-break
        expr = expr.when(s[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


def n_words(text: Column) -> Column:
    return F.size(words(text))


def n_ws_tokens(text: Column) -> Column:
    """Whitespace-regex token count."""
    return F.size(F.split(F.trim(text), r"\s+"))


def n_re_tokens(text: Column) -> Column:
    """BPE-ish regex pre-token count."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), F.lit(0)))


def n_distinct_tokens(text: Column) -> Column:
    return F.size(F.array_distinct(F.split(F.trim(F.lower(text)), r"\s+")))


def mean_word_len(text: Column) -> Column:
    """Average word length = non-space chars / word count (double)."""
    return F.length(F.regexp_replace(text, " ", "")) / n_words(text)


def alpha_ratio(text: Column) -> Column:
    return F.length(F.regexp_replace(F.lower(text), "[^a-z]", "")) / F.length(text)


def stop_ratio(text: Column, stopwords: tuple[str, ...] = LANG_STOPWORDS["en"]) -> Column:
    return stopword_count(text, stopwords) / n_words(text)


def quality_score(text: Column) -> Column:
    """Composite [0..~1] quality heuristic: stopword density + alphabetic
    density + word-length sanity. Weights are arbitrary but fixed."""
    wl = mean_word_len(text)
    wl_sane = F.when((wl >= 2.0) & (wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return 0.4 * stop_ratio(text) + 0.4 * alpha_ratio(text) + 0.2 * wl_sane


def normalize_for_fingerprint(text: Column) -> Column:
    """lower -> strip non [a-z0-9 ] -> collapse whitespace -> trim."""
    t = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint of the normalized text."""
    return F.md5(normalize_for_fingerprint(text))


# --- DuckDB SQL twins (used by oracle_sql) ---------------------------------

def sql_words(col: str) -> str:
    return f"str_split(lower({col}), ' ')"


def sql_stopword_count(col: str, stopwords: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in stopwords)
    return f"len(list_filter({sql_words(col)}, x -> x IN ({lst})))"


def sql_fingerprint(col: str) -> str:
    return (
        f"md5(trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9 ]', '', 'g'),"
        f" '\\s+', ' ', 'g')))"
    )


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Array of word n-grams of the lowercased text (empty if < n words)."""
    w = words(text)
    idx = F.sequence(F.lit(0), F.size(w) - n)
    gram = lambda i: F.concat_ws(" ", *[F.element_at(w, i + k + 1) for k in range(n)])
    return F.when(F.size(w) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def sql_word_ngrams(col: str, n: int = 2) -> str:
    """DuckDB twin of :func:`word_ngrams` (1-based list indexing; the
    word split is inlined because lambda bodies can't reference outer
    SELECT aliases)."""
    w = sql_words(col)
    parts = " || ' ' || ".join(f"({w})[i+{k}]" for k in range(n))
    return (
        f"(CASE WHEN len({w}) >= {n} THEN "
        f"list_transform(range(1, len({w}) - {n - 2}),"
        f" i -> {parts}) ELSE [] END)"
    )
