"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All built-in `pyspark.sql.functions` (whole-stage codegen, no Python in
the hot path); every formula is chosen to be reproducible in plain ANSI
SQL so the DuckDB oracle can verify it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .linking import normalize_key

# Tiny deterministic stopword inventories for the n-gram/stopword
# language heuristic. Order matters: ties resolve to the first list.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "en", "por", "para"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of the normalized text; empty text → []."""
    t = normalize_key(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, " "))


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: splits on whitespace AND punctuation AND
    letter/digit boundaries — a cheap proxy for BPE token counts used to
    budget training tokens. regexp-only, codegen'd."""
    pieces = F.split(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), r"([0-9]+)", r" $1 "),
            r"[^a-z0-9]+",
            " ",
        ).alias("t"),
        " ",
    )
    return F.size(F.filter(pieces, lambda p: p != "")).cast("long")


def stopword_hits_from(toks: Column, lang: str) -> Column:
    """Stopword hit count over an already-tokenized array column."""
    lit_arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(lit_arr, t))).cast("long")


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set — the classic 'fingerprint clustering' key (case/word-order/
    duplication insensitive)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col(text)))))


def text_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-pass profile: (id, n_tokens, n_subtokens, lang_id, quality,
    fingerprint). No shuffle at all.

    Staged projections: the token array and the per-language stopword
    hit counts are materialized as their own columns (multi-referenced
    non-cheap aliases survive CollapseProject), so the text is
    normalized+tokenized ONCE per row instead of once per consuming
    metric — no subexpression elimination happens inside lambda bodies,
    the same lesson as `linking.tokens_of`. Values are identical to the
    single-expression helpers above."""
    t = F.col(text_col)
    langs = list(STOPWORDS)
    staged = df.select(
        F.col(id_col).alias("id"), t.alias("__text"), tokens_col(t).alias("__toks")
    ).select(
        "id", "__text", "__toks",
        *[stopword_hits_from(F.col("__toks"), lang).alias(f"__h_{lang}")
          for lang in langs],
    )

    toks = F.col("__toks")
    raw = F.coalesce(F.col("__text"), F.lit(""))
    ntok = F.size(toks).cast("long")

    hit_cols = [F.col(f"__h_{lang}") for lang in langs]
    best = F.greatest(*hit_cols)
    lang_expr = F.lit("und")
    for lang, hits in reversed(list(zip(langs, hit_cols))):
        lang_expr = F.when((best > 0) & (hits == best), F.lit(lang)).otherwise(lang_expr)

    ntok_d = ntok.cast("double")
    sw = F.col("__h_en").cast("double")
    nalpha = F.length(F.regexp_replace(F.lower(raw), r"[^a-z]", "")).cast("double")
    nchar = F.length(raw).cast("double")
    len_part = F.least(F.lit(1.0), ntok_d / F.lit(100.0)) * 0.4
    sw_part = F.least(F.lit(0.3), F.when(ntok_d > 0, sw / ntok_d).otherwise(F.lit(0.0)) * 5 * 0.3)
    alpha_part = F.when(nchar > 0, nalpha / nchar).otherwise(F.lit(0.0)) * 0.3

    return staged.select(
        "id",
        ntok.alias("n_tokens"),
        bpe_ish_token_count(F.col("__text")).alias("n_subtokens"),
        lang_expr.alias("lang_id"),
        F.round(len_part + sw_part + alpha_part, 4).alias("quality"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("fingerprint"),
    )
