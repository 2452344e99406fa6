"""Corpus-curation operators for training-data pipelines: PII redaction,
repetition scoring, benchmark-contamination checks, deterministic dataset
splitting, and a composite quality-filter pass.

JVM-side, whole-stage-codegen friendly — one scan per metric set, no Python
in the hot path. Hashing is md5-based so the DuckDB oracles reproduce
bit-for-bit, and so split assignment is stable across runs/cluster sizes (a
reshuffle or executor loss never moves a document between train and test).

The token-based scores follow the package's one expression form (llm.text
module note): builders return Spark SQL strings quoted through
quoting.ident/lit, and callers use selectExpr or F.expr. The PII and split
helpers have no SQL copy and stay plain Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..quoting import ident
from .dedup import materialized_shingles
from .text import (
    LANGS,
    language_argmax_sql,
    quality_sql,
    quality_terms_sql,
    stopword_hits_sql,
    tokens_sql,
)

# PII patterns chosen for the RE2 ∩ java.util.regex common dialect (no
# backrefs, no lookaround) so Spark and the DuckDB oracle agree exactly.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_REDACTIONS = [(EMAIL_RE, "<EMAIL>"), (IPV4_RE, "<IP>"), (PHONE_RE, "<PHONE>")]


def count_pii(col: Column | str) -> dict[str, Column]:
    """Per-kind PII occurrence counts (before redaction)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)).cast("bigint"),
        "n_phones": F.regexp_count(c, F.lit(PHONE_RE)).cast("bigint"),
        "n_ips": F.regexp_count(c, F.lit(IPV4_RE)).cast("bigint"),
    }


def redact_pii(col: Column | str) -> Column:
    """Replace every email, IPv4 and phone occurrence with a typed tag.
    Emails are redacted before IPs so 'user@1.2.3.4.com'-style strings are
    consumed by the email pass first (order is part of the contract)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, tag in _REDACTIONS:
        c = F.regexp_replace(c, pat, tag)
    return c


def repetition_sql(n_tok: str, n_distinct: str) -> str:
    """1 - |distinct tokens| / |tokens| in [0, 1) over token-count
    expressions — the cheap intra-document repetition signal used by corpus
    quality filters."""
    return (
        f"round(1.0D - CAST({n_distinct} AS DOUBLE) / greatest(CAST({n_tok} AS DOUBLE), 1.0D), 6)"
    )


def repetition_ratio_sql(col: str) -> str:
    toks = tokens_sql(col)
    return repetition_sql(f"size({toks})", f"size(array_distinct({toks}))")


def split_bucket(id_col: Column | str, buckets: int = 100) -> Column:
    """Deterministic [0, buckets) bucket from md5 of the id — content-stable
    dataset splitting (survives reshuffles, repartitions, re-runs)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(c.cast("string"))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % buckets


def dataset_split(
    id_col: Column | str, train_pct: int = 80, valid_pct: int = 10
) -> Column:
    """'train' / 'valid' / 'test' label from the hash bucket."""
    b = split_bucket(id_col)
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


def contamination_hits(
    df: DataFrame,
    benchmark_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
) -> DataFrame:
    """Per corpus document, the number of distinct word k-grams it shares
    with ANY benchmark document (benchmark = rows matching benchmark_pred).

    Scale shape: the corpus is shingled ONCE (materialized shingle base —
    at cluster scale a staging write, one scan feeding both branches); the
    benchmark side collapses to a distinct-shingle set (small: benchmarks
    are ~1e5 docs, not TBs) and is broadcast, so the big corpus side is
    never shuffled. No cross join anywhere.
    """
    # fan_out=False: the downstream here is a broadcast semi-join + count —
    # too cheap to amortize the fan-out exchange (r12 driver bench regressed
    # contamination_check 1.17->1.46 s with it; r13 paired A/B measured
    # 1.20 s with the exchange vs 0.72 s without, and the 8-core scaling
    # ratio 0.78 showed the 32-task scheduling was the overhead). The lazy
    # checkpoint stays: without it both consumers re-tokenize (11.7 s).
    base = materialized_shingles(
        df.withColumn("__is_bench", benchmark_pred), text_col, id_col, k,
        keep_cols=("__is_bench",), fan_out=False,
    )
    bench = (
        base.where(F.col("__is_bench"))
        .select(F.explode("__sh").alias("shingle"))
        .distinct()
    )
    corpus = base.where(~F.col("__is_bench")).select(
        id_col, F.explode("__sh").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(bench), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def pack_into_shards(
    df: DataFrame,
    token_col: str = "n_tokens",
    budget: int = 2000,
    partition_cols: tuple[str, ...] = ("split", "source"),
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget shard packing: within each partition group, documents
    are laid out in a deterministic pseudo-random order (md5 of id — the
    content-stable analog of a training-data shuffle) and cut into shards
    of ~`budget` tokens by running-total position.

    Scale note: the running sum is a window per (split, source) group — at
    100 TB, partition on enough columns that no single group dominates
    (split alone would funnel 80% of the corpus through one sort); with
    (split, source) the sort is per-source-sized and distributed.
    """
    from pyspark.sql import Window

    order_key = F.md5(F.col(id_col).cast("string"))
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_key, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.sum(F.col(token_col)).over(w)
    start = end - F.col(token_col)
    return df.withColumn("shard_id", F.floor(start / F.lit(budget)).cast("bigint"))


def quality_quota_sample(
    df: DataFrame,
    quota: int = 10,
    by: str = "source",
    quality_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-`quota` documents per group by quality (deterministic id
    tie-break) — the selection step of quality-curriculum corpus mixing."""
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(F.col(quality_col).desc(), F.col(id_col))
    return (
        df.withColumn("qrank", F.row_number().over(w).cast("bigint"))
        .where(F.col("qrank") <= quota)
    )


def curation_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 30,
    max_repetition: float = 0.6,
    min_quality: float = 0.5,
) -> DataFrame:
    """One-pass composite curation verdict per document: every filter is a
    flag column plus the final keep decision, so downstream can both filter
    and report per-reason drop rates from a single scan.

    Execution shape: tokenization and the per-language/stat counts are
    STAGED as real columns (two narrow projections) rather than inlined —
    the naive single-projection form re-evaluates the split/regexp token
    tree once per reference (~30x for the language argmax + flag columns),
    and Catalyst's subexpression elimination does not hoist subtrees out of
    CASE WHEN branches. Results are bit-identical (same exprs, same fold
    order); only the evaluation count changes. The top projection applies
    the same builders as the single-expression forms (quality_score_sql,
    repetition_ratio_sql, detect_language_sql) to the staged columns."""
    idq = ident(id_col)
    base = df.selectExpr(idq, f"{ident(text_col)} AS __t", f"{tokens_sql(text_col)} AS __toks")
    terms = quality_terms_sql("__t", "__toks")
    stats = base.selectExpr(
        idq,
        f"{terms['n_tok']} AS __n_tok",
        "CAST(size(array_distinct(__toks)) AS BIGINT) AS __n_dist",
        *[f"{stopword_hits_sql('__toks', lang)} AS __hits_{lang}" for lang in LANGS],
        f"{terms['n_alpha']} AS __alpha",
        f"{terms['n_chars']} AS __len",
    )
    # cheap scalar math over the staged stats — duplication-free to inline
    rep = repetition_sql("__n_tok", "__n_dist")
    qual = quality_sql("__n_tok", "__hits_en", "__alpha", "__len")
    lang = language_argmax_sql({l: f"__hits_{l}" for l in LANGS})
    out = stats.selectExpr(
        idq,
        "__n_tok AS n_tokens",
        f"{rep} AS repetition",
        f"{qual} AS quality",
        f"{lang} AS detected_lang",
        f"__n_tok < {min_tokens} AS too_short",
        f"{rep} > {max_repetition!r}D AS high_repetition",
        f"{qual} < {min_quality!r}D AS low_quality",
        f"({lang}) != 'en' AS non_en",
    )
    return out.withColumn(
        "keep",
        F.expr("NOT (too_short OR high_repetition OR low_quality OR non_en)"),
    )
