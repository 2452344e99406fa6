"""Retail star-schema models — the Spark restatement of the reference's dbt
transform group (include/dbt/models/transform/*.sql, SURVEY.md §3.3).

Inputs: a `raw_invoices` frame (schemas.RAW_INVOICES) and a `country`
lookup. The fixture adapter `raw_invoices_from_fixtures` synthesizes the
same shape deterministically from the driver's TPC-H-ish tables so the
whole pipeline is DuckDB-oracle-checkable.

Hash-parity note: UnitPrice is DECIMAL(18,2) (not double) because the dbt
surrogate keys stringify it — decimal->string rendering agrees across
engines, double->string does not (Java 17 Double.toString is not
shortest-form).

Expressions follow the package's one form (llm.text module note): SQL
strings from builders, quoted through quoting.ident/lit, applied with
selectExpr — dims and fact build their surrogate keys from the same
``surrogate_key_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..quoting import ident
from .transforms import dual_format_timestamp_sql, surrogate_key_sql


def raw_invoices_from_fixtures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic raw_invoices built from lineitem/orders/customer/nation:
    invoice = order, stock code = part key, unit price = extprice/qty
    rounded to DECIMAL(18,2), invoice date = dual-format string of
    o_orderdate (even orderkeys in year >= 2000 use the 2-digit form)."""
    # fan_out: the invoice synthesis + downstream surrogate-key md5s are the
    # heaviest per-row expression stack in the engine; a single-row-group
    # fixture would otherwise run it all on one core (A/B: 2.85 -> 2.12 s)
    l = load_table(spark, sf_dir, "lineitem", fan_out=True)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    # one selectExpr round trip for the date-string synthesis and decimal math
    mm = "lpad(CAST(month(o_orderdate) AS STRING), 2, '0')"
    dd = "lpad(CAST(dayofmonth(o_orderdate) AS STRING), 2, '0')"
    yyyy = "CAST(year(o_orderdate) AS STRING)"
    yy = "lpad(CAST(year(o_orderdate) % 100 AS STRING), 2, '0')"
    long_str = f"concat({mm}, '/', {dd}, '/', {yyyy}, ' 10:15')"
    short_str = f"concat({mm}, '/', {dd}, '/', {yy}, ' 10:15')"
    invoice_date = (
        f"CASE WHEN (o_orderkey % 2 = 0) AND (year(o_orderdate) >= 2000) "
        f"THEN {short_str} ELSE {long_str} END"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .selectExpr(
            "CAST(o_orderkey AS STRING) AS InvoiceNo",
            "CAST(l_partkey AS STRING) AS StockCode",
            "p_name AS Description",
            "CAST(l_quantity AS INT) AS Quantity",
            f"{invoice_date} AS InvoiceDate",
            # floor(x*100)/100 is pure IEEE arithmetic — bit-identical across
            # engines, unlike round(), whose tie handling differs.
            "CAST(floor(l_extendedprice / l_quantity * 100) / 100"
            " AS DECIMAL(18,2)) AS UnitPrice",
            # ~10% null customers to exercise the dim_customer filter
            "CASE WHEN c_custkey % 10 = 7 THEN NULL"
            " ELSE CAST(c_custkey AS STRING) END AS CustomerID",
            "n_name AS Country",
        )
    )


def country_from_fixtures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country lookup analog (dim_customer.sql:13-14): nation name -> region
    name as the iso stand-in."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_name").alias("nicename"), F.col("r_name").alias("iso")
    )


def dim_customer(raw: DataFrame, country: DataFrame) -> DataFrame:
    """include/dbt/models/transform/dim_customer.sql: surrogate key over
    (CustomerID, Country), LEFT JOIN country lookup, CustomerID NOT NULL."""
    return (
        raw.where(F.col("CustomerID").isNotNull())
        .selectExpr(
            f"{surrogate_key_sql('CustomerID', 'Country')} AS customer_id",
            "CustomerID AS customer_code",
            "Country AS country",
        )
        .distinct()
        .join(F.broadcast(country), F.col("country") == country.nicename, "left")
        .select("customer_id", "customer_code", "country", "iso")
    )


def dim_product(raw: DataFrame) -> DataFrame:
    """dim_product.sql: surrogate key (StockCode, Description, UnitPrice);
    WHERE StockCode IS NOT NULL AND UnitPrice > 0."""
    return (
        raw.where(F.col("StockCode").isNotNull() & (F.col("UnitPrice") > 0))
        .selectExpr(
            f"{surrogate_key_sql('StockCode', 'Description', 'UnitPrice')} AS product_id",
            "StockCode AS stock_code",
            "Description AS description",
            # Output edge: DECIMAL stays internal (surrogate-key stringify
            # needs it); the emitted column is DOUBLE — the only output type
            # class proven green through the driver's value hash.
            "CAST(UnitPrice AS DOUBLE) AS price",
        )
        .distinct()
    )


def dim_datetime(raw: DataFrame) -> DataFrame:
    """dim_datetime.sql: dual-format parse keyed on string length, then
    year/month/day/hour/minute/weekday extracts (BQ DAYOFWEEK == Spark
    dayofweek == 1=Sunday, SURVEY.md §2.8)."""
    return (
        raw.where(F.col("InvoiceDate").isNotNull())
        .select(F.col("InvoiceDate").alias("datetime_raw"))
        .distinct()
        .selectExpr(
            f"{surrogate_key_sql('datetime_raw')} AS datetime_id",
            "datetime_raw",
            f"{dual_format_timestamp_sql(ident('datetime_raw'))} AS `datetime`",
        )
        .withColumn("year", F.year("datetime").cast("bigint"))
        .withColumn("month", F.month("datetime").cast("bigint"))
        .withColumn("day", F.dayofmonth("datetime").cast("bigint"))
        .withColumn("hour", F.hour("datetime").cast("bigint"))
        .withColumn("minute", F.minute("datetime").cast("bigint"))
        .withColumn("weekday", F.dayofweek("datetime").cast("bigint"))
    )


def fct_invoices(raw: DataFrame) -> DataFrame:
    """fct_invoices.sql: invoice fact with surrogate FKs to the three dims,
    total = Quantity * UnitPrice, WHERE Quantity > 0. Joins are implicit —
    the FK surrogates are recomputed from the same columns, exactly like the
    dbt model (fct_invoices.sql:8-9)."""
    return raw.where(F.col("Quantity") > 0).selectExpr(
        f"{surrogate_key_sql('InvoiceNo', 'StockCode', 'CustomerID')} AS invoice_id",
        f"{surrogate_key_sql('InvoiceDate')} AS datetime_id",
        f"{surrogate_key_sql('StockCode', 'Description', 'UnitPrice')} AS product_id",
        f"{surrogate_key_sql('CustomerID', 'Country')} AS customer_id",
        "CAST(Quantity AS BIGINT) AS quantity",
        "CAST(CAST(Quantity AS DECIMAL(18,2)) * UnitPrice AS DECIMAL(38,4)) AS total",
    )


def report_customer_invoices(fct: DataFrame, dim_cust: DataFrame) -> DataFrame:
    """report_customer_invoices (schema implied by
    include/soda/checks/report/report_customer_invoices.yml)."""
    return (
        fct.join(F.broadcast(dim_cust), "customer_id")
        .groupBy("country")
        .agg(F.countDistinct("invoice_id").alias("total_invoices"))
    )


def report_product_invoices(fct: DataFrame, dim_prod: DataFrame) -> DataFrame:
    return (
        fct.join(F.broadcast(dim_prod), "product_id")
        .groupBy("stock_code")
        .agg(F.sum("quantity").alias("total_quantity_sold"))
    )


def report_year_invoices(fct: DataFrame, dim_dt: DataFrame) -> DataFrame:
    return (
        fct.join(F.broadcast(dim_dt), "datetime_id")
        .groupBy("year")
        .agg(F.countDistinct("invoice_id").alias("num_invoices"))
    )
