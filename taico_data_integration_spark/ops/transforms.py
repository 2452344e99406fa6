"""Scalar/row-level transform building blocks.

Ports of the reference's dbt-SQL idioms (SURVEY.md §2.8): comma-decimal
parsing, dbt_utils surrogate keys, normalized-key fuzzy joins,
canonical-name mapping, dual-format datetime parsing. JVM-side,
whole-stage-codegen friendly; no UDFs.

The surrogate key and the dual-format timestamp follow the package's one
expression form (llm.text module note): a ``*_sql`` builder returns a Spark
SQL string quoted through quoting.ident/lit and callers use it in
selectExpr or F.expr. The other helpers have no SQL copy and stay plain
Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..quoting import ident, lit

# dbt_utils 1.1.1 generate_surrogate_key null placeholder (SURVEY.md §1.3).
SURROGATE_NULL = "_dbt_utils_surrogate_key_null_"


def comma_decimal(col: Column | str, out_type: str = "double") -> Column:
    """European comma-decimal string -> number; garbage -> NULL.

    Reference: ``cast(replace(spend, ',', '.') as float64)``
    (include/dbt/models/taico/meta/fb_meta_ads_transformed.sql:11-14).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(c, F.lit(","), F.lit(".")).cast(out_type)


def surrogate_key_sql(*cols: str) -> str:
    """dbt_utils.generate_surrogate_key parity over column names: md5 of
    '-'-joined, null-coalesced string casts
    (include/dbt/models/transform/dim_customer.sql:6).

    concat_ws would *skip* nulls (wrong); dbt coalesces each field to the
    placeholder, so we do too.
    """
    parts = ", ".join(
        f"coalesce(CAST({ident(c)} AS STRING), {lit(SURROGATE_NULL)})" for c in cols
    )
    return f"md5(concat_ws('-', {parts}))"


def normalize_name(col: Column | str) -> Column:
    """Alphanumeric-strip + lowercase normalization used by the reference's
    performance<->cost fuzzy join
    (include/dbt/models/mms/google_sheets/staging/staging_performance_cost_combined.sql:40-50).

    Precomputing this as a column turns the 'fuzzy' join into a plain
    hash-joinable equi-key (SURVEY.md J5).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, "[^a-zA-Z0-9]", ""))


def canonical_map(col: Column | str, mapping: dict[str, str]) -> Column:
    """J6 value standardization: CASE WHEN chain
    (include/dbt/models/mms/google_sheets/staging/normalized_costs.sql:4-12)."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for raw, canonical in mapping.items():
        cond = c == F.lit(raw)
        expr = F.when(cond, F.lit(canonical)) if expr is None else expr.when(cond, F.lit(canonical))
    return c if expr is None else expr.otherwise(c)


def dual_format_timestamp_sql(expr: str, long_fmt: str = "M/d/yyyy H:mm", short_fmt: str = "M/d/yy H:mm", length_threshold: int = 16) -> str:
    """Ambiguous datetime strings parsed by length
    (include/dbt/models/transform/dim_datetime.sql:7-16): 16-char strings are
    '%m/%d/%Y %H:%M', shorter are '%m/%d/%y %H:%M'. try_to_timestamp keeps
    NULL-on-garbage under ANSI (SURVEY.md §7.4 hazard 5). ``expr`` is SQL
    text (``ident(name)`` for a plain column)."""
    return (
        f"CASE WHEN length({expr}) >= {length_threshold} THEN try_to_timestamp({expr}, {lit(long_fmt)}) "
        f"ELSE try_to_timestamp({expr}, {lit(short_fmt)}) END"
    )


def block_code_reformat(col: Column | str) -> Column:
    """Behavioral port of the reference's block-code regexp
    (include/dbt/models/mms/google_sheets/staging/mms_lb_staged.sql:16):
    BQ ``r'(\\d{2})(\\d{2})\\(\\d{2})\\(\\d{2})' -> r'\\1-\\2-\\3-\\4'``.
    Capture-group refs translate to ``$1`` in Spark (SURVEY.md §7.4 hazard 6);
    8 consecutive digits -> 'aa-bb-cc-dd'.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"(\d{2})(\d{2})(\d{2})(\d{2})", r"$1-$2-$3-$4")


def with_normalized_join_key(df: DataFrame, src_col: str, key_col: str) -> DataFrame:
    return df.withColumn(key_col, normalize_name(src_col))
