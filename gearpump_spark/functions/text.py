"""Text-analysis column functions for training-data pipelines.

All pure Column expressions (codegen'd JVM-side — zero Python per row):
tokenization, quality stats, stopword/punctuation ratios, a stopword-based
language-ID heuristic, and content fingerprints. Each has an exact ANSI-SQL
equivalent so the driver can oracle-check the queries built on them.

This module is the only one that knows the whitespace rule. Every
token form has one DataFrame function here and one DuckDB SQL twin,
named ``sql_<form>``, that the oracles format in: `tokens`,
`lower_tokens`, `normalize_text`, `normalized_words`, `ngrams` and
`letter_runs`. The exploded form is ``F.explode(tokens(...))`` on one
side and ``UNNEST(sql_tokens(...))`` on the other. The split class is
`WS_RE`, ``[ \\t\\n\\f\\r]``: RE2's ``\\s``, which DuckDB uses. Java's
``\\s`` also matches U+000B (vertical tab), so a Spark split on ``\\s+``
and its oracle disagree on any text that carries one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the heuristic language ID.
# (n-gram-free variant: hit-count argmax over high-frequency words.)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "fr": ("le", "la", "de", "et", "les", "des"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
}

EN_STOPWORDS = LANG_PROFILES["en"]


# Whitespace class shared by every Spark-side tokenizer: the RE2 set
# ([ \t\n\f\r]) rather than Java's \s, which also matches U+000B —
# the DuckDB oracles evaluate \s with RE2, and the two engines MUST
# split identically or hash checks diverge on \x0b-bearing text.
_WS = " \\t\\n\\f\\r"
WS_RE = f"[{_WS}]+"

# BPE-style pre-tokenizer pieces: letter runs, digit runs, and single
# characters that are neither those nor whitespace. One pattern for both
# engines, over the same whitespace class.
PIECE_RE = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS}]"

# Lowercase letter runs (see `letter_runs`).
LETTER_RE = "[a-z]+"


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(text, WS_RE), lambda t: t != "")


def sql_tokens(text: str = "text") -> str:
    """DuckDB twin of `tokens`; ``text`` is a SQL expression."""
    return f"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY({text}, '{WS_RE}'), w -> w <> '')"


def lower_tokens(text: Column) -> Column:
    """`tokens`, each lowercased."""
    return F.transform(tokens(text), F.lower)


def sql_lower_tokens(text: str = "text") -> str:
    """DuckDB twin of `lower_tokens`."""
    return sql_tokens(f"LOWER({text})")


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), WS_RE, " "))


def sql_normalize_text(text: str = "text") -> str:
    """DuckDB twin of `normalize_text`."""
    return f"TRIM(REGEXP_REPLACE(LOWER({text}), '{WS_RE}', ' ', 'g'))"


def normalized_words(text: Column) -> Column:
    """`normalize_text` split on its single spaces. Unlike `lower_tokens`,
    empty or all-whitespace text gives one empty word, not none."""
    return F.split(normalize_text(text), " ")


def sql_normalized_words(text: str = "text") -> str:
    """DuckDB twin of `normalized_words`."""
    return f"STRING_SPLIT({sql_normalize_text(text)}, ' ')"


def ngrams(tk: Column, n: int) -> Column:
    """Word n-grams of the token array ``tk``, space-joined, in order;
    empty when ``tk`` has fewer than ``n`` tokens.

    Built with slice + zip_with rather than per-index element_at, so ``tk``
    is evaluated a constant number of times per row even when it is an
    expression: Catalyst inlines an expression into every element_at call
    of a lambda, one full tokenize per n-gram."""
    m = F.greatest(F.size(tk) - (n - 1), F.lit(0))
    grams = F.slice(tk, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(tk, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return grams


def sql_ngrams(tk: str, n: int) -> str:
    """DuckDB twin of `ngrams`; ``tk`` names a list column."""
    gram = " || ' ' || ".join([f"{tk}[i]"] + [f"{tk}[i + {j}]" for j in range(1, n)])
    return f"LIST_TRANSFORM(RANGE(1, LEN({tk}) - {n} + 2), i -> {gram})"


def letter_runs(text: Column) -> Column:
    """Runs of ASCII letters in the lowercased text, in order: the word
    form of the unigram-statistics queries, which drops digits and
    punctuation where `lower_tokens` keeps them."""
    return F.regexp_extract_all(F.lower(text), F.lit(LETTER_RE), F.lit(0))


def sql_letter_runs(text: str = "text") -> str:
    """DuckDB twin of `letter_runs`."""
    return f"REGEXP_EXTRACT_ALL(LOWER({text}), '{LETTER_RE}')"


def token_count(text: Column) -> Column:
    return token_count_of(tokens(text))


def token_count_of(tk: Column) -> Column:
    return F.size(tk).cast("bigint")


def char_count(text: Column) -> Column:
    return F.length(text).cast("bigint")


def punct_count(text: Column) -> Column:
    """Count of .,!?;: characters."""
    return F.length(F.regexp_replace(text, r"[^.,!?;:]", "")).cast("bigint")


def digit_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("bigint")


def stopword_count(text: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    return stopword_count_of(tokens(text), stopwords)


def stopword_count_of(tk: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    lowered = F.transform(tk, lambda t: F.lower(t))
    return F.size(F.filter(lowered, lambda t: t.isin(*stopwords))).cast("bigint")


def avg_token_len(text: Column) -> Column:
    """Mean token length as exact ratio of bigints (deterministic)."""
    return avg_token_len_of(tokens(text))


def avg_token_len_of(tk: Column) -> Column:
    total = F.aggregate(tk, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    return (total.cast("double") / F.size(tk).cast("double")).alias("avg_token_len")


def quality_score(text: Column) -> Column:
    """Cheap quality heuristic in [0,1]: penalize very short docs, high
    punctuation density, and zero stopwords (Gopher/C4-style rule-of-thumb
    filters, expression-only)."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    punct_density = punct_count(text).cast("double") / F.greatest(char_count(text).cast("double"), F.lit(1.0))
    punct_score = F.greatest(F.lit(1.0) - punct_density * 10.0, F.lit(0.0))
    stop_score = F.when(stopword_count(text) > 0, F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_score * punct_score * stop_score).alias("quality")


# PII patterns — written to the common subset of Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no lookaround, no \b (structure bounds
# the match instead). Order matters: emails before the generic digit runs.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("phone", r"\+\d{1,3}-\d{3}-\d{3,4}-\d{4}", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4s, and international-format phone numbers with
    typed placeholders. Pure JVM regexp_replace chain — no UDF; the same
    patterns run in DuckDB with the 'g' flag for oracle parity."""
    out = text
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Match counts per PII class (size of regexp_extract_all — identical
    semantics in DuckDB via LEN(REGEXP_EXTRACT_ALL(...)))."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast("bigint")
        for name, pat, _repl in PII_PATTERNS
    }


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit counts."""
    lowered = lower_tokens(text)
    return {
        lang: F.size(F.filter(lowered, lambda t: t.isin(*words))).cast("bigint")
        for lang, words in LANG_PROFILES.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax language over stopword profiles; 'und' when all zero.
    Deterministic tie-break: profile order en > es > fr > de."""
    scores = lang_scores(text)
    langs = list(LANG_PROFILES)
    best = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    for lang in reversed(langs):  # earlier profiles win ties (>=)
        cond = scores[lang] >= F.greatest(best_score, F.lit(1).cast("bigint"))
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best


# HTML stripping: ordered regexp_replace chain shared (single source) by the
# Spark expression and the DuckDB oracle. Order matters — script/style
# bodies go first so their text content never leaks into the output.
# Patterns are RE2-safe (both engines); entities cover the common named set
# plus numeric escapes for < 128.
HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST: otherwise &amp;lt; would double-decode
)


def strip_html(text: Column) -> Column:
    """Plain text from HTML-ish markup: drop script/style/comment bodies,
    strip tags, decode the common entities, collapse whitespace. Pure JVM
    regexp chain — no parser, no UDF; mirrors the crawl-preprocessing
    front of a C4-style pipeline. Not a full HTML5 parser (malformed
    nesting degrades gracefully to tag-stripping)."""
    out = text
    for pat, repl in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, repl)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, WS_RE, " "))
