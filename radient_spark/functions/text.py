"""Text-analysis column expressions: tokenization, shingles, stats, quality.

These are the engine-side building blocks for the LLM-data-pipeline
operators (dedup, fingerprinting, quality scoring) that BASELINE.json makes
first-class. Everything here is a Catalyst expression (JVM-side, codegen'd);
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens; empty/blank text yields an empty array. A column
    name is built in one SQL parse (`tokens_sql`)."""
    if isinstance(text, str):
        return F.expr(tokens_sql(sql_ident(text)))
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def sql_ident(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, with any
    backtick inside the name doubled, so the text parses back to exactly
    that name."""
    return "`" + name.replace("`", "``") + "`"


def tokens_sql(text: str) -> str:
    """SQL text of `tokens` over the string SQL expression `text`."""
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split(trim({text}), '\\\\s+') END"
    )


def shingles_sql(tk: str, k: int = 3) -> str:
    """SQL text of k-word shingles over the token-array SQL expression
    `tk`: no tokens -> [], fewer than k -> the whole text as one shingle,
    else every k-token window. Rendered from the integer k, so `F.expr`
    parses the whole lambda-bearing expression in one call."""
    k = int(k)
    return (
        f"CASE WHEN size({tk}) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE CASE WHEN size({tk}) < {k} THEN array(array_join({tk}, ' ')) "
        f"ELSE transform(sequence(1, size({tk}) - {k - 1}), "
        f"i -> array_join(slice({tk}, i, {k}), ' ')) END END"
    )


def shingles_from_tokens(tk: str, k: int = 3) -> Column:
    """k-word shingles from an existing token-array column, given by
    name; the expression is built in one SQL parse (`shingles_sql`).

    IMPORTANT for plan shape: pass a *materialized column* (withColumn),
    not the tokens() expression inline — Catalyst inlines lambda-captured
    expressions, so an inline tokens() would re-split the text once per
    shingle (O(T^2) per doc).
    """
    return F.expr(shingles_sql(sql_ident(tk), k))


def word_shingles(text: str, k: int = 3) -> Column:
    """k-word shingles as strings — the unit for MinHash / n-gram Jaccard.

    tokens = [a,b,c,d], k=3 -> ["a b c", "b c d"]; fewer than k tokens ->
    a single shingle of the whole text (so short docs still hash).
    Prefer staging tokens via withColumn + shingles_from_tokens in hot
    paths (see that function's docstring).
    """
    return F.expr(shingles_sql(f"({tokens_sql(sql_ident(text))})", k))


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Character n-grams (for language-ID features and near-dup Jaccard)."""
    t = _c(text)
    ln = F.length(t)
    return F.when(ln == 0, F.array().cast("array<string>")).otherwise(
        F.when(ln < n, F.array(t)).otherwise(
            F.transform(
                F.sequence(F.lit(1), ln - F.lit(n - 1)),
                lambda i: t.substr(i, F.lit(n)),
            )
        )
    )


def alpha_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII letters — a quality signal."""
    t = _c(text)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        n_alpha.cast("double") / F.length(t).cast("double")
    )


_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on with as at by".split()
)


def stopword_ratio(text: Column | str) -> Column:
    """Share of tokens that are English stopwords (quality heuristic)."""
    tk = tokens(F.lower(_c(text)))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_sw = F.size(F.filter(tk, lambda x: F.array_contains(sw, x)))
    return F.when(F.size(tk) == 0, F.lit(0.0)).otherwise(
        n_sw.cast("double") / F.size(tk).cast("double")
    )


# GPT-2-style pretokenizer pattern — the "BPE-ish regex" token counter.
# Uses \p{L}/\p{N} unicode classes supported by both Java regex (Spark)
# and RE2 (DuckDB) so the oracle counts identically.
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_tokens(text: Column | str) -> Column:
    """Subword-style tokens via the GPT-2 pretokenizer regex (model-free
    BPE approximation for token accounting)."""
    return F.regexp_extract_all(_c(text), F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column | str) -> Column:
    return F.size(bpe_ish_tokens(text))


ROLLING_B = 31
ROLLING_P = 1_000_003


def rolling_hash_fingerprint(text: Column | str, k: int = 16) -> Column:
    """Document fingerprint via Karp-Rabin rolling hashes: polynomial
    hash of every k-char window (base 31 mod 1e6+3), fingerprint = the
    minimum window hash — winnowing's selection rule with window = whole
    doc. Pure integer arithmetic, bit-identical in the SQL oracle.
    Texts shorter than k hash as a single window."""
    t = _c(text)
    chars = F.split(t, "")
    n = F.length(t)

    def window_hash(start, length):
        codes = F.transform(F.slice(chars, start, length), lambda c: F.ascii(c))
        return F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, c: (acc * ROLLING_B + c) % ROLLING_P,
        )

    all_windows = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: window_hash(i, F.lit(k)),
    )
    return F.when(n == 0, F.lit(None).cast("long")).otherwise(
        F.when(n < k, window_hash(F.lit(1), n)).otherwise(F.array_min(all_windows))
    )


# Language-ID: tiny per-language stopword lists; prediction = first
# language (in LANGID_ORDER) achieving the max stopword count. Fully
# deterministic, portable to a SQL oracle.
LANGID_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "los"),
    "de": ("der", "die", "und", "das", "ist", "von"),
    "fr": ("le", "les", "des", "et", "est", "une"),
    "zh": ("的", "是", "在", "了", "我"),
}
LANGID_ORDER = ("en", "es", "de", "fr", "zh")


def langid_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword counts over lowercase whitespace tokens."""
    tk = tokens(F.lower(_c(text)))

    def contains(sw):
        return lambda x: F.array_contains(sw, x)

    out = {}
    for lang in LANGID_ORDER:
        sw = F.array(*[F.lit(w) for w in LANGID_STOPWORDS[lang]])
        out[lang] = F.size(F.filter(tk, contains(sw)))
    return out


def langid(text: Column | str) -> Column:
    """Predicted language code: argmax stopword count with the fixed
    LANGID_ORDER tiebreak (n-gram-heuristic language ID, model-free)."""
    scores = langid_scores(text)
    expr = None
    for i, lang in enumerate(LANGID_ORDER):
        cond = None
        for other in LANGID_ORDER[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if expr is None:
            expr = F.when(cond, branch)
        elif cond is not None:
            expr = expr.when(cond, branch)
        else:
            expr = expr.otherwise(branch)
    return expr


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] doc-quality heuristic: length band + alpha ratio +
    stopword presence. Deterministic, model-free."""
    tc = token_count(text).cast("double")
    len_score = F.least(tc / F.lit(50.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * len_score
        + F.lit(0.4) * alpha_ratio(text)
        + F.lit(0.2) * F.least(stopword_ratio(text) * 5.0, F.lit(1.0)),
        6,
    )


# Unicode punctuation folded to ASCII by normalize_text: curly quotes,
# dashes, ellipsis, non-breaking/zero-width spaces. Kept as explicit
# (pattern, replacement) pairs — identical literals feed the Spark
# expression and the DuckDB oracle, so no engine-specific \p classes.
NORMALIZE_RULES: tuple[tuple[str, str], ...] = (
    ("[\u2018\u2019\u201a\u201b]", "'"),
    ('[\u201c\u201d\u201e\u201f]', '"'),
    ("[\u2013\u2014\u2015]", "-"),
    ("\u2026", "..."),
    ("[\u00a0\u2000-\u200a\u202f\u205f\u3000]", " "),
    ("[\u200b\u200c\u200d\ufeff]", ""),
)


def normalize_text(col: Column | str, lowercase: bool = True) -> Column:
    """Deterministic text normalization: fold common unicode punctuation
    to ASCII, collapse whitespace runs to single spaces, trim, and
    (optionally) lowercase — the canonicalization pass that runs before
    hashing/dedup so cosmetic variants collide. Pure chained
    regexp_replace: map-only, whole-stage codegen, and every pattern is
    shared verbatim with the SQL oracle."""
    out = _c(col)
    for pat, rep in NORMALIZE_RULES:
        out = F.regexp_replace(out, pat, rep)
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return F.lower(out) if lowercase else out


def normalize_sql_expr(col_sql: str, lowercase: bool = True) -> str:
    """The DuckDB expression equivalent of normalize_text (RE2 needs the
    explicit 'g' flag where Spark replaces globally by default)."""
    out = col_sql
    for pat, rep in NORMALIZE_RULES:
        p_sql, r_sql = pat.replace("'", "''"), rep.replace("'", "''")
        out = f"regexp_replace({out}, '{p_sql}', '{r_sql}', 'g')"
    out = f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"
    return f"lower({out})" if lowercase else out
