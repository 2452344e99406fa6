"""Text-analysis operators for training-data pipelines.

Language-ID by stopword hits, quality scoring, token counting and
deterministic document fingerprints, all JVM-side and codegen-friendly.
Designed so a 100 TB corpus costs one scan per metric set — no Python in the
hot path.

One expression form: each ``*_sql`` builder returns a Spark SQL string,
quotes names through ``quoting.ident`` and constants through
``quoting.lit``, and callers use it in ``selectExpr`` or ``F.expr``. A whole
stack is one parse and one py4j round trip; the Column API cost one round
trip per node (1.5-2k per staged language/curation build). A builder
argument named ``col`` is a column name; one named ``*_expr`` (or a count
argument) is SQL text the caller already built. ``normalized_text`` is the
one Column-returning name, a one-line ``F.expr`` wrapper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..quoting import ident, lit

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"],
}
LANGS = ("en", "de", "es", "fr")

WORD_SPLIT_RE = r"\s+"
# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^A-Za-z0-9\s]"


def norm_sql(col: str) -> str:
    """lower + trim + collapse whitespace — canonical text form."""
    return f"regexp_replace(lower(trim({ident(col)})), {lit(WORD_SPLIT_RE)}, ' ')"


def tokens_sql(col: str) -> str:
    """Whitespace tokens of the normalized text (array<string>)."""
    return f"split({norm_sql(col)}, ' ')"


def token_count_sql(col: str) -> str:
    return f"CAST(size({tokens_sql(col)}) AS BIGINT)"


def bpe_token_count_sql(col: str) -> str:
    """Count of regex tokens — a deterministic stand-in for a BPE tokenizer's
    pre-tokenization pass."""
    return f"CAST(regexp_count({ident(col)}, {lit(BPE_TOKEN_RE)}) AS BIGINT)"


def punct_count_sql(col: str) -> str:
    return f"CAST(regexp_count({ident(col)}, {lit(PUNCT_RE)}) AS BIGINT)"


def fingerprint_sql(col: str) -> str:
    """Deterministic document fingerprint: md5 of the canonical text form.
    Grouping on this (not raw text) keeps shuffle keys small at 100 TB."""
    return f"md5({norm_sql(col)})"


def stopword_hits_sql(toks_expr: str, lang: str) -> str:
    """Number of tokens of an array expression that are stopwords of
    ``lang`` (array filter, JVM-side)."""
    words = ", ".join(lit(w) for w in STOPWORDS[lang])
    return f"CAST(size(filter({toks_expr}, t -> t IN ({words}))) AS BIGINT)"


def language_argmax_sql(hits: dict[str, str], langs: tuple[str, ...] = LANGS) -> str:
    """argmax of per-language hit-count expressions with deterministic
    precedence order; 'unknown' when no list scores a hit. Precedence =
    declaration order on ties: a lang wins only with a STRICTLY greater
    score than every earlier lang and >= every later one. Pass CHEAP column
    references when the hit counts are staged as real columns — the chain
    references each hit ~7x, which duplicates a full expression tree."""
    expr = lit("unknown")
    for i, lang in enumerate(langs):
        cond = f"{hits[lang]} > 0"
        for j, other in enumerate(langs):
            if other == lang:
                continue
            op = ">" if j < i else ">="
            cond = f"{cond} AND {hits[lang]} {op} {hits[other]}"
        expr = f"CASE WHEN {cond} THEN {lit(lang)} ELSE {expr} END"
    return expr


def detect_language_sql(col: str, langs: tuple[str, ...] = LANGS) -> str:
    """argmax of stopword hits as one expression — re-tokenizes per hit
    reference; prefer `with_language` (staged hit columns) in scan-heavy
    pipelines."""
    toks = tokens_sql(col)
    return language_argmax_sql({lang: stopword_hits_sql(toks, lang) for lang in langs}, langs)


def quality_sql(n_tok: str, hits_en: str, n_alpha: str, n_chars: str) -> str:
    """Composite [0,1] quality score over count expressions — stopword ratio
    + alpha ratio + length saturation, the reference-free analog of
    heuristic quality filters. ``n_tok``/``hits_en`` are BIGINT counts;
    ``n_alpha``/``n_chars`` are already DOUBLE. The ``D`` suffix keeps every
    float literal a DOUBLE (a bare 1.0 parses as DECIMAL)."""
    n_tok_d = f"CAST({n_tok} AS DOUBLE)"
    stop_ratio = f"CAST({hits_en} AS DOUBLE) / greatest({n_tok_d}, 1.0D)"
    alpha_ratio = f"{n_alpha} / greatest({n_chars}, 1.0D)"
    len_sat = f"least({n_tok_d} / 100.0D, 1.0D)"
    return f"round(0.4D * ({stop_ratio}) + 0.3D * ({alpha_ratio}) + 0.3D * ({len_sat}), 6)"


def quality_terms_sql(col: str, toks_expr: str) -> dict[str, str]:
    """The four count expressions `quality_sql` reads, over a text column
    and its token-array expression."""
    c = ident(col)
    return {
        "n_tok": f"CAST(size({toks_expr}) AS BIGINT)",
        "hits_en": stopword_hits_sql(toks_expr, "en"),
        "n_alpha": f"CAST(regexp_count({c}, '[A-Za-z]') AS DOUBLE)",
        "n_chars": f"CAST(length({c}) AS DOUBLE)",
    }


def quality_score_sql(col: str) -> str:
    return quality_sql(**quality_terms_sql(col, tokens_sql(col)))


def normalized_text(col: str) -> Column:
    return F.expr(norm_sql(col))


def staged_language_hits(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    langs: tuple[str, ...] = LANGS,
) -> DataFrame:
    """keep_cols + one `__hits_<lang>` bigint column per language, with
    tokenization staged as a real column so the split/regexp runs ONCE per
    row (the single-expression detect_language_sql re-tokenizes per hit
    reference — ~28 evaluations for 4 languages). CollapseProject keeps the
    staging projection because the token array is non-cheap and referenced
    by every hit column."""
    keep = [ident(c) for c in keep_cols]
    base = df.selectExpr(*keep, f"{tokens_sql(text_col)} AS __toks")
    hit_cols = [
        f"{stopword_hits_sql('__toks', lang)} AS __hits_{lang}" for lang in langs
    ]
    return base.selectExpr(*keep, *hit_cols)


def with_language(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    out: str = "detected_lang",
    langs: tuple[str, ...] = LANGS,
) -> DataFrame:
    """keep_cols + detected language, via staged hit columns (one
    tokenization pass per row; identical results to detect_language_sql)."""
    staged = staged_language_hits(df, text_col, keep_cols, langs)
    lang_sql = language_argmax_sql({l: f"__hits_{l}" for l in langs}, langs)
    return staged.selectExpr(*[ident(c) for c in keep_cols], f"{lang_sql} AS {ident(out)}")
