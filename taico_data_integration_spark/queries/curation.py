"""Corpus-curation queries over the documents fixture: PII redaction,
repetition scoring, benchmark-contamination n-gram checks, deterministic
train/valid/test splitting, and the composite quality-filter pass.

PII is synthesized deterministically from doc_id (the fixture corpus
contains none) so the redaction path is exercised with nonzero counts on
both engines; the redaction regexes live in llm/curation.py and are chosen
from the RE2 ∩ java.util.regex common dialect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.curation import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    contamination_hits,
    count_pii,
    curation_flags,
    dataset_split,
    redact_pii,
    repetition_ratio_sql,
)
from ..llm.text import quality_score_sql, token_count_sql, tokens_sql
from ._util import T
from .llm import _NORM, _hits_sql

# ---------------------------------------------------------------------------
# PII redaction over synthesized addresses/numbers.


def _with_pii(d: DataFrame) -> DataFrame:
    doc = F.col("doc_id").cast("string")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), doc, F.lit("@example.com"),
            F.lit(" call 555-"), F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        ).alias("t"),
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _with_pii(T(spark, sf_dir, "documents"))
    counts = count_pii("t")
    return p.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        F.md5(redact_pii("t")).alias("redacted_md5"),
    )


_PII_TEXT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)

PII_REDACTION_SQL = f"""
WITH p AS (SELECT doc_id, {_PII_TEXT} AS t FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS BIGINT) AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
        '{EMAIL_RE}', '<EMAIL>', 'g'),
        '{IPV4_RE}', '<IP>', 'g'),
        '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM p
"""

# ---------------------------------------------------------------------------
# Intra-document repetition (duplicate-token fraction).


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    toks = tokens_sql("text")
    return d.selectExpr(
        "doc_id",
        f"CAST(size({toks}) AS BIGINT) AS n_tokens",
        f"CAST(size(array_distinct({toks})) AS BIGINT) AS n_distinct",
        f"{repetition_ratio_sql('text')} AS repetition",
    )


DOC_REPETITION_SQL = f"""
SELECT doc_id,
  CAST(len(ws) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
  ROUND(CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(ws)) AS DOUBLE)
        / greatest(CAST(len(ws) AS DOUBLE), CAST(1.0 AS DOUBLE)), 6) AS repetition
FROM (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents) z
"""

# ---------------------------------------------------------------------------
# Benchmark-contamination check: distinct word 4-grams shared with the
# held-out set (source 'src0' plays the benchmark).


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return contamination_hits(d, F.col("source") == "src0", k=4)


CONTAMINATION_SQL = f"""
WITH toks AS (SELECT doc_id, source, string_split({_NORM}, ' ') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, source,
              ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
       FROM toks, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)
       WHERE len(ws) >= 4),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0')
SELECT doc_id, COUNT(*) AS n_shared_ngrams
FROM sh JOIN bench USING (shingle)
WHERE source <> 'src0'
GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# Deterministic content-hash dataset split (80/10/10).


def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", "source", dataset_split("doc_id").alias("split"))


DATASET_SPLIT_SQL = """
SELECT doc_id, source,
  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 100 AS b
  FROM (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) z) y
"""

# ---------------------------------------------------------------------------
# Composite curation pass: all filter flags + keep in one scan.


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: tokenization + per-language filters are compute-bound per row
    return curation_flags(T(spark, sf_dir, "documents", fan_out=True))


_EN = _hits_sql("en")
_NTOK = f"CAST(len(string_split({_NORM}, ' ')) AS BIGINT)"
_REP = (
    f"ROUND(CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(string_split({_NORM}, ' '))) AS DOUBLE)"
    f" / greatest(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE), CAST(1.0 AS DOUBLE)), 6)"
)
_QUAL = f"""ROUND(
    CAST(0.4 AS DOUBLE) * (CAST({_EN} AS DOUBLE)
        / greatest(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE), CAST(1.0 AS DOUBLE)))
    + CAST(0.3 AS DOUBLE) * (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
        / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))
    + CAST(0.3 AS DOUBLE) * least(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE) / CAST(100.0 AS DOUBLE),
                                  CAST(1.0 AS DOUBLE)), 6)"""
_LANG = f"""CASE WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
       WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
       WHEN es > 0 AND es >= fr THEN 'es'
       WHEN fr > 0 THEN 'fr'
       ELSE 'unknown' END"""

CURATION_SQL = f"""
WITH base AS (
  SELECT doc_id, {_NTOK} AS n_tokens, {_REP} AS repetition, {_QUAL} AS quality,
         {_hits_sql('en')} AS en, {_hits_sql('de')} AS de,
         {_hits_sql('es')} AS es, {_hits_sql('fr')} AS fr
  FROM documents),
flagged AS (
  SELECT doc_id, n_tokens, repetition, quality, {_LANG} AS detected_lang,
         n_tokens < 30 AS too_short,
         repetition > CAST(0.6 AS DOUBLE) AS high_repetition,
         quality < CAST(0.5 AS DOUBLE) AS low_quality,
         {_LANG} <> 'en' AS non_en
  FROM base)
SELECT doc_id, n_tokens, repetition, quality, detected_lang,
       too_short, high_repetition, low_quality, non_en,
       NOT (too_short OR high_repetition OR low_quality OR non_en) AS keep
FROM flagged
"""


# ---------------------------------------------------------------------------
# Token-budget shard packing: split assign -> token count -> deterministic
# order -> running-total shard cut, all per (split, source) group.


def token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.curation import pack_into_shards

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        dataset_split("doc_id").alias("split"),
        F.expr(token_count_sql("text")).alias("n_tokens"),
    )
    return pack_into_shards(d, budget=2000)


_SPLIT_EXPR = """CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 < 80 THEN 'train'
  WHEN ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 < 90 THEN 'valid'
  ELSE 'test' END"""

TOKEN_SHARD_SQL = f"""
WITH base AS (
  SELECT doc_id, source, {_SPLIT_EXPR} AS split,
         CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, source, split, n_tokens,
  CAST(floor((SUM(n_tokens) OVER (PARTITION BY split, source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
       / 2000) AS BIGINT) AS shard_id
FROM base
"""

# ---------------------------------------------------------------------------
# Quality-quota sampling: top-N per source by quality score.


def quality_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.curation import quality_quota_sample

    d = T(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", f"{quality_score_sql('text')} AS quality"
    )
    return quality_quota_sample(d, quota=10)


QUALITY_QUOTA_SQL = f"""
WITH scored AS (SELECT doc_id, source, {_QUAL} AS quality FROM documents),
ranked AS (
  SELECT doc_id, source, quality,
         CAST(row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS BIGINT) AS qrank
  FROM scored)
SELECT doc_id, source, quality, qrank FROM ranked WHERE qrank <= 10
"""

# ---------------------------------------------------------------------------
# Cascading time-grain rollup over events: minute -> hour -> day; the day
# output proves the cascade (exact DECIMAL sums are associative).


def cascading_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.rollup import cascade_rollup

    e = T(spark, sf_dir, "events")
    _minute, _hour, day = cascade_rollup(e)
    return day.select(
        "event_date",
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "n_active_hours",
    )


CASCADING_ROLLUP_SQL = """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS minute_ts, event_type,
         COUNT(*) AS n_events, SUM(CAST(value AS DECIMAL(18,2))) AS total_value
  FROM events GROUP BY 1, 2),
hour AS (
  SELECT date_trunc('hour', minute_ts) AS hour_ts, event_type,
         SUM(n_events) AS n_events, SUM(total_value) AS total_value,
         COUNT(*) AS n_active_minutes
  FROM minute GROUP BY 1, 2)
SELECT CAST(date_trunc('day', hour_ts) AS DATE) AS event_date, event_type,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(total_value) AS DOUBLE) AS total_value,
       COUNT(*) AS n_active_hours
FROM hour GROUP BY 1, 2
"""


QUERIES = {
    "pii_redaction": pii_redaction,
    "doc_repetition": doc_repetition,
    "contamination_check": contamination_check,
    "dataset_split_assign": dataset_split_assign,
    "curation_pipeline": curation_pipeline,
    "token_shard_packing": token_shard_packing,
    "quality_quota": quality_quota,
    "cascading_rollup": cascading_rollup,
}

ORACLE = {
    "pii_redaction": PII_REDACTION_SQL,
    "doc_repetition": DOC_REPETITION_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "dataset_split_assign": DATASET_SPLIT_SQL,
    "curation_pipeline": CURATION_SQL,
    "token_shard_packing": TOKEN_SHARD_SQL,
    "quality_quota": QUALITY_QUOTA_SQL,
    "cascading_rollup": CASCADING_ROLLUP_SQL,
}
