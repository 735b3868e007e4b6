"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All the bulk paths are JVM Column expressions (codegen, SQL-parity with
the DuckDB oracle)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_col

# tiny per-language stopword profiles (public common words)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "with", "this"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es"],
    "sw": ["ya", "na", "wa", "kwa", "ni", "za", "katika", "hii", "hiyo", "kama"],
}


def token_count(text: Column | str, profile: str = "ascii") -> Column:
    return F.size(tokenize_col(text, profile))


def _bind(s: Column, fn) -> Column:
    """Evaluate the (struct) expression ONCE and expose its fields to
    ``fn`` as cheap struct-field reads — the shingle_hashes lambda-binding
    trick generalized. Rationale (round 6, measured): codegen
    subexpression elimination skips expressions inside CASE WHEN
    branches, so a formula referencing ``tokenize_col`` from several
    ``when`` arms re-runs the regex per reference (the text_quality plan
    carried 6× regexp_extract_all / 3× regexp_replace — 2.7× slower than
    the bound form)."""
    return F.element_at(F.transform(F.array(s), fn), 1)


def lang_id(text: Column | str, profile: str = "ascii") -> Column:
    """n-gram/stopword heuristic language ID: most stopword hits wins;
    ties and zero hits → 'und'. Deterministic tie-break by language code.
    Tokenize binds once, then each per-language intersect binds once —
    the when-cascade reads struct fields instead of re-running them."""
    toks = tokenize_col(text, profile)

    def decide(s: Column) -> Column:
        scores = {lang: s[lang] for lang in LANG_STOPWORDS}
        best = F.greatest(*scores.values())
        expr = F.lit("und")
        # reversed so earlier (alphabetical) languages win exact ties
        for lang in sorted(scores, reverse=True):
            expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
        return F.when(best > 0, expr).otherwise(F.lit("und"))

    return _bind(
        F.struct(F.array_distinct(toks).alias("ts")),
        lambda t: _bind(
            F.struct(
                *[
                    F.size(
                        F.array_intersect(
                            t["ts"], F.array(*[F.lit(w) for w in words])
                        )
                    ).alias(lang)
                    for lang, words in LANG_STOPWORDS.items()
                ]
            ),
            decide,
        ),
    )


def quality_score(text: Column | str, profile: str = "ascii") -> Column:
    """Composite quality in [0,1]: length score (tokens/200 capped),
    alpha ratio, stopword presence, mean-word-length sanity band.
    Deterministic arithmetic, SQL-parity friendly (round 6). The
    tokenize/regexp inputs bind once (see ``_bind``); the arithmetic is
    term-for-term identical to the pre-bind formula (and the oracle)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokenize_col(c, profile)
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])

    def formula(v: Column) -> Column:
        n_toks, n_chars = v["n_toks"], v["n_chars"]
        alpha_chars, stop_hits = v["alpha"], v["stop_hits"]
        alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
        stop_score = F.least(stop_hits / F.lit(5.0), F.lit(1.0))
        len_score = F.least(n_toks / F.lit(200.0), F.lit(1.0))
        mean_wl = F.when(n_toks > 0, alpha_chars / n_toks).otherwise(F.lit(0.0))
        wl_score = F.when((mean_wl >= 3) & (mean_wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
        return F.round(
            F.lit(0.3) * len_score
            + F.lit(0.3) * alpha_ratio
            + F.lit(0.2) * stop_score
            + F.lit(0.2) * wl_score,
            6,
        )

    return _bind(
        F.struct(
            toks.alias("ts"),
            F.length(c).alias("n_chars"),
            F.length(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")).alias("alpha"),
        ),
        lambda s: _bind(
            F.struct(
                F.size(s["ts"]).alias("n_toks"),
                s["n_chars"].alias("n_chars"),
                s["alpha"].alias("alpha"),
                F.size(F.array_intersect(F.array_distinct(s["ts"]), en_stop)).alias(
                    "stop_hits"
                ),
            ),
            formula,
        ),
    )


def content_fingerprint(text: Column | str, profile: str = "ascii") -> Column:
    """Normalized-content fingerprint: md5 over the space-joined token
    stream — whitespace/punctuation/case-insensitive identity (F7-style
    content hashing applied to document text)."""
    return F.md5(F.concat_ws(" ", tokenize_col(text, profile)))


def doc_stats(df: DataFrame, text_col: str = "text", profile: str = "ascii") -> DataFrame:
    """Per-doc analysis frame: token count, lang guess, quality, fingerprint."""
    return df.withColumns(
        {
            "n_tokens": token_count(text_col, profile),
            "lang_guess": lang_id(text_col, profile),
            "quality": quality_score(text_col, profile),
            "fingerprint": content_fingerprint(text_col, profile),
        }
    )


# -- PII scrubbing (training-data hygiene) ---------------------------------
# Patterns chosen to evaluate identically under Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no ambiguous alternations — greedy
# quantifier matches coincide, so regexp_replace output is byte-equal.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    "ipv4": (
        r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "<IP>",
    ),
    "phone": (
        r"\+[0-9][0-9 ()-]{6,}[0-9]",
        "<PHONE>",
    ),
}


def scrub_pii(text: Column | str, kinds: list[str] | None = None) -> Column:
    """Mask common PII shapes (emails, IPv4 addresses, international
    phone numbers) with typed placeholders — the standard scrub pass a
    web corpus gets before training. Pure chained ``regexp_replace``
    Columns: JVM codegen, no UDF, order fixed (email before phone so the
    digits of a masked address never re-match). At 100 TB this is a
    map-only pass — no shuffle, fully pushdown-friendly."""
    col = F.col(text) if isinstance(text, str) else text
    for kind in kinds or ["email", "ipv4", "phone"]:
        pat, repl = PII_PATTERNS[kind]
        col = F.regexp_replace(col, pat, repl)
    return col


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII hit counts (audit surface for the scrub pass)."""
    col = F.col(text) if isinstance(text, str) else text
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        for kind, (pat, _) in PII_PATTERNS.items()
    }
