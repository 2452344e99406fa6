"""Core relational query coverage (SURVEY.md §2.2-§2.8) over the driver
fixtures, each with a DuckDB oracle.

Operator ids in docstrings refer to SURVEY.md §2 (reference file:line cited
there). Queries use the engine's operator modules where the semantics match,
so the correctness gate exercises the real library code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checks.engine import Check, checks_dataframe
from ..ops.dims import distinct_extract, multi_distinct
from ..ops.transforms import (
    canonical_map,
    comma_decimal,
    dual_format_timestamp_sql,
    normalize_name,
    surrogate_key_sql,
)
from ._util import T, as_double, dec2, one

# ---------------------------------------------------------------------------
# Aggregation pipeline (A1/A2 family): TPC-H Q1-style pricing summary.


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side partial agg -> shuffle on tiny key space.

    Money math strategy: 2-decimal doubles become exact integer cents
    (round(x*100) is deterministic IEEE -> identical in both engines);
    per-row products stay in long arithmetic (fast whole-stage codegen, no
    per-row BigDecimal); only the SUM is DECIMAL(38,0) (exact, overflow-safe
    at any scale); the output edge divides as double (correctly-rounded
    decimal->double conversion is engine-identical). Other queries use the
    simpler all-DECIMAL strategy (see _util.dec2) — this one shows the fast
    path for the hottest aggregate."""
    l = T(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    t100 = F.round(F.col("l_tax") * 100).cast("long")

    def _sum_scaled(expr, scale: float):
        return (F.sum(expr.cast("decimal(38,0)")).cast("double") / F.lit(scale)).cast("double")

    return (
        l.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            as_double(F.sum(F.col("l_quantity").cast("long"))).alias("sum_qty"),
            _sum_scaled(cents, 100.0).alias("sum_base_price"),
            _sum_scaled(cents * (100 - d100), 10000.0).alias("sum_disc_price"),
            _sum_scaled(cents * (100 - d100) * (100 + t100), 1000000.0).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6))
    )


_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_D100 = "CAST(round(l_discount * 100) AS BIGINT)"
_T100 = "CAST(round(l_tax * 100) AS BIGINT)"

Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST({_CENTS} AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST({_CENTS} * (100 - {_D100}) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST({_CENTS} * (100 - {_D100}) * (100 + {_T100}) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order,
  ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(CAST(SUM(CAST({_CENTS} AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS DOUBLE) / COUNT(*), 6) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

_DEC_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
_DEC_QTY = "CAST(l_quantity AS DECIMAL(18,2))"
_DEC_DISC = "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
_DEC_TAX = "(CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"

# ---------------------------------------------------------------------------
# Join pipeline: 3-way join + agg + deterministic top-k (J3/L1).


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.to_timestamp(F.lit("1999-06-01")))
    l = T(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.to_timestamp(F.lit("1999-06-01")))
    rev = dec2("l_extendedprice") * (one() - dec2("l_discount", 4))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(as_double(F.sum(rev)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderpriority, CAST(SUM({_DEC_PRICE} * {_DEC_DISC}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-06-01 00:00:00'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

# ---------------------------------------------------------------------------
# 6-way star join (J1 analog): small dims broadcast.


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = T(spark, sf_dir, "region").where(F.col("r_regionkey") < 3)
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders")
    # fan_out: the probe side drives 5 broadcast joins + decimal revenue
    # math — heavy enough per row to amortize the fan-out exchange
    # (measured 1.61 -> 1.21 s; q1's plain aggregate is NOT, see catalog)
    l = T(spark, sf_dir, "lineitem", fan_out=True)
    rev = dec2("l_extendedprice") * (one() - dec2("l_discount", 4))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            as_double(F.sum(rev)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


Q5_SQL = f"""
SELECT r_name, n_name, CAST(SUM({_DEC_PRICE} * {_DEC_DISC}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_regionkey < 3
GROUP BY r_name, n_name
"""

# ---------------------------------------------------------------------------
# P1/P2: dimension distinct extraction.


def dim_distinct_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (sync_data.py:206-218): SELECT DISTINCT c WHERE c IS NOT NULL."""
    return distinct_extract(T(spark, sf_dir, "customer"), "c_mktsegment", out_name="name")


DIM_DISTINCT_SQL = """
SELECT DISTINCT c_mktsegment AS name FROM customer WHERE c_mktsegment IS NOT NULL
"""


def dim_extract_all_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalable form of entry point A's per-dimension fan-out
    (dags/etl.py:143-190 runs 9 separate DISTINCT queries): ONE scan emits
    (dim_name, value) pairs for every dimension column via an inline
    unpivot, then a single distinct. 9 scans -> 1 at any fact size."""
    o = T(spark, sf_dir, "orders")
    pairs = F.explode(
        F.array(
            F.struct(F.lit("status").alias("dim_name"), F.col("o_orderstatus").alias("value")),
            F.struct(F.lit("priority").alias("dim_name"), F.col("o_orderpriority").alias("value")),
        )
    )
    return (
        o.select(pairs.alias("p"))
        .select("p.dim_name", "p.value")
        .where(F.col("value").isNotNull())
        .distinct()
    )


DIM_EXTRACT_ALL_SQL = """
SELECT DISTINCT 'status' AS dim_name, o_orderstatus AS value FROM orders WHERE o_orderstatus IS NOT NULL
UNION
SELECT DISTINCT 'priority', o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL
"""


def multi_distinct_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (sync_data.py:118-121): multi-column DISTINCT combination rows."""
    return multi_distinct(T(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"])


MULTI_DISTINCT_SQL = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""

# ---------------------------------------------------------------------------
# J7/J8: anti-joins (the insert-if-not-exists / delete-missing rewrite).


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (sync_data.py:242-252): one distributed left-anti join replaces the
    reference's per-row NOT EXISTS loop."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, on="c_custkey", how="left_anti").select("c_custkey", "c_name", "c_mktsegment")


CUST_NO_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (sync_data.py:254-269): reverse anti-join = delete-missing sweep."""
    p = T(spark, sf_dir, "part")
    l = T(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return p.join(l, on="p_partkey", how="left_anti").select("p_partkey", "p_name", "p_retailprice")


PARTS_NEVER_SQL = """
SELECT p_partkey, p_name, p_retailprice FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""

# ---------------------------------------------------------------------------
# J2: LEFT join on a computed key (fb_meta_ads_transformed.sql:26-31).


def computed_key_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference joins on concat('campaign_id_', substring(id, 4)); fixture
    analog: customer key recovered from 'Customer#NNNNNNNNN' name."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select(
        F.substring("c_name", 10, 100).cast("bigint").alias("ckey"),
        "c_name",
        "c_mktsegment",
    )
    return o.join(c, o.o_custkey == c.ckey, "left").select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment"
    )


COMPUTED_KEY_SQL = """
SELECT o_orderkey, o_custkey, c_name, c_mktsegment
FROM orders
LEFT JOIN (
  SELECT TRY_CAST(substring(c_name, 10) AS BIGINT) AS ckey, c_name, c_mktsegment
  FROM customer
) c ON o_custkey = c.ckey
"""

# ---------------------------------------------------------------------------
# J5: normalized-key (fuzzy) equi-join (staging_performance_cost_combined.sql:33-50).


def normalized_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    messy = p.select(
        F.upper(F.replace(F.col("p_name"), F.lit(" "), F.lit("-"))).alias("messy_name")
    ).distinct()
    return (
        p.join(
            F.broadcast(messy),
            normalize_name(F.col("p_name")) == normalize_name(F.col("messy_name")),
            "left",
        )
        .select("p_partkey", "p_name", "messy_name")
    )


NORMALIZED_KEY_SQL = """
SELECT p_partkey, p_name, messy_name
FROM part
LEFT JOIN (SELECT DISTINCT upper(replace(p_name, ' ', '-')) AS messy_name FROM part) m
  ON lower(regexp_replace(p_name, '[^a-zA-Z0-9]', '', 'g'))
   = lower(regexp_replace(messy_name, '[^a-zA-Z0-9]', '', 'g'))
"""

# ---------------------------------------------------------------------------
# J6: canonical-name CASE mapping (normalized_costs.sql:4-12).


def case_canonical_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    canon = canonical_map(
        "c_mktsegment", {"AUTOMOBILE": "AUTO", "MACHINERY": "MACH", "HOUSEHOLD": "HOME"}
    )
    return (
        c.select(canon.alias("canonical_segment"), "c_acctbal")
        .groupBy("canonical_segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            as_double(F.sum(dec2("c_acctbal"))).alias("total_acctbal"),
        )
    )


CASE_CANONICAL_SQL = """
SELECT CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'AUTO' WHEN 'MACHINERY' THEN 'MACH'
            WHEN 'HOUSEHOLD' THEN 'HOME' ELSE c_mktsegment END AS canonical_segment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# dbt_utils surrogate keys (dim_customer.sql:6; SURVEY.md §1.3).


def surrogate_customer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    return c.selectExpr(
        "c_custkey",
        f"{surrogate_key_sql('c_custkey', 'c_nationkey')} AS customer_sk",
        f"{surrogate_key_sql('c_name', 'c_mktsegment')} AS name_sk",
    )


_SK_NULL = "_dbt_utils_surrogate_key_null_"
SURROGATE_SQL = f"""
SELECT c_custkey,
  md5(concat_ws('-', coalesce(CAST(c_custkey AS VARCHAR), '{_SK_NULL}'),
                     coalesce(CAST(c_nationkey AS VARCHAR), '{_SK_NULL}'))) AS customer_sk,
  md5(concat_ws('-', coalesce(CAST(c_name AS VARCHAR), '{_SK_NULL}'),
                     coalesce(CAST(c_mktsegment AS VARCHAR), '{_SK_NULL}'))) AS name_sk
FROM customer
"""

# ---------------------------------------------------------------------------
# A2/A5/A6/A8: the declarative check engine as an oracle-checkable query.

LINEITEM_CHECKS = [
    Check("not_null", "lineitem_orderkey_not_null", {"column": "l_orderkey"}),
    Check("not_null", "lineitem_shipdate_not_null", {"column": "l_shipdate"}),
    Check("unique", "lineitem_pk_unique", {"columns": ["l_orderkey", "l_linenumber"]}),
    Check("min_rows", "lineitem_min_rows", {"n": 100}),
    Check("accepted_values", "lineitem_returnflag_domain", {"column": "l_returnflag", "values": ["A", "N", "R"]}),
    Check("non_negative", "lineitem_quantity_non_negative", {"column": "l_quantity"}),
    Check("cross_column", "lineitem_price_non_negative", {"predicate": "l_extendedprice >= 0"}),
]


def quality_checks_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregate pass computes every metric (reference pulls whole tables
    to pandas: validate_extracted_data.py:63-64,:88-89)."""
    return checks_dataframe(T(spark, sf_dir, "lineitem"), LINEITEM_CHECKS)


QUALITY_CHECKS_SQL = """
SELECT 'lineitem_orderkey_not_null' AS check_name, 'not_null' AS check_kind,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS metric FROM lineitem
UNION ALL
SELECT 'lineitem_shipdate_not_null', 'not_null',
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem_pk_unique', 'unique',
       CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem_min_rows', 'min_rows', CAST(COUNT(*) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem_returnflag_domain', 'accepted_values',
       CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') AND l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem_quantity_non_negative', 'non_negative',
       CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem_price_non_negative', 'cross_column',
       CAST(SUM(CASE WHEN NOT (l_extendedprice >= 0) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
"""

# ---------------------------------------------------------------------------
# W1: row_number over a deterministic order (SURVEY.md §7.4 hazard 1).


def row_number_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row_number ids WITHOUT a global window: mint_ids_distributed
    (range partition + per-partition numbering + offsets) assigns the same
    dense ids as ``row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)``
    — the key is unique, so the ids are identical by contract — and the
    plan has no single-partition stage at any input size (was a guarded
    1M-cap global window until round 4; ADVICE r3 flagged the cap as an
    sf10 hard-fail)."""
    from ..ops.dims import mint_ids_distributed

    c = T(spark, sf_dir, "customer").select("c_acctbal", "c_custkey", "c_name")
    minted = mint_ids_distributed(
        c, [F.col("c_acctbal").desc(), F.col("c_custkey")], id_col="row_id"
    )
    return minted.select("row_id", "c_custkey", "c_name")


ROW_NUMBER_SQL = """
SELECT CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS row_id,
       c_custkey, c_name
FROM customer
"""

# ---------------------------------------------------------------------------
# Windows beyond the reference (rank/lag — free Spark capability).


def customer_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("seq"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("bigint").alias("days_since_prev"),
    )


ORDER_RANKS_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(row_number() OVER w AS BIGINT) AS seq,
  CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

# ---------------------------------------------------------------------------
# L1: deterministic ORDER BY + LIMIT top-k.


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""

# ---------------------------------------------------------------------------
# U1: UNION ALL of historical + incremental (main_taico_staging.sql:74-78).


def union_incremental_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    cutoff = F.to_timestamp(F.lit("1999-01-01"))
    hist = o.where(F.col("o_orderdate") < cutoff)
    incr = o.where((F.col("o_orderdate") >= cutoff) & (F.col("o_orderstatus") == "O"))
    return (
        hist.unionByName(incr)
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            as_double(F.sum(dec2("o_totalprice"))).alias("total_price"),
        )
    )


UNION_INCR_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  UNION ALL
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' AND o_orderstatus = 'O'
) u
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# U2: set difference (data_quality_checks.py:77-83).


def except_rich_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    rich = c.where(F.col("c_acctbal") > 1000).select("c_custkey").distinct()
    with_orders = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    return rich.exceptAll(with_orders)


EXCEPT_SQL = """
SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 1000
EXCEPT
SELECT DISTINCT o_custkey AS c_custkey FROM orders
"""

# ---------------------------------------------------------------------------
# A7: report aggregates (report_customer/product/year_invoices analogs).


def report_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    o = T(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            as_double(F.sum(dec2("o_totalprice"))).alias("total_price"),
        )
    )


ORDERS_BY_NATION_SQL = """
SELECT n_name, COUNT(*) AS total_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def report_quantity_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    return (
        l.groupBy("l_partkey")
        .agg(as_double(F.sum(dec2("l_quantity"))).alias("total_quantity_sold"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select("p_partkey", "p_name", "total_quantity_sold")
    )


QUANTITY_BY_PART_SQL = """
SELECT p_partkey, p_name, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity_sold
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name
"""


def report_orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").cast("bigint").alias("order_year")).agg(
        F.count(F.lit(1)).alias("num_orders")
    )


ORDERS_BY_YEAR_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year, COUNT(*) AS num_orders
FROM orders GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Streaming-analog batch window aggregate over events (§2.10).


def tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window + event_type counts — the batch twin of the
    Structured Streaming version in streaming/incremental_stream.py.

    Batch formulation groups on date_trunc('hour', ts), which is exactly
    window(ts, '1 hour').start for epoch-aligned hours but a far cheaper
    grouping key than F.window's two-timestamp struct (measured 26% faster
    at sf1; results bit-identical). The streaming twin keeps F.window —
    its state keying needs the window struct."""
    e = T(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        as_double(F.sum(dec2("value"))).alias("total_value"),
    )


TUMBLING_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour window, 1-hour slide: every event lands in exactly two
    overlapping windows (epoch-aligned starts at each hour).

    Batch formulation mirrors the oracle's unnest([0,1]) expansion: explode
    the per-event window offsets, then group on a single truncated
    timestamp — same replication factor F.window creates internally but
    with a scalar grouping key instead of the two-timestamp struct
    (measured 41% faster at sf1; results bit-identical). The streaming
    twin keeps F.window for state keying."""
    e = T(spark, sf_dir, "events")
    return (
        e.select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("__k"), "ts", "event_type", "value"
        )
        .groupBy(
            (F.date_trunc("hour", "ts") - F.make_interval(hours=F.col("__k"))).alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            as_double(F.sum(dec2("value"))).alias("total_value"),
        )
    )


SLIDING_SQL = """
SELECT CAST(date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS TIMESTAMP) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events, (SELECT unnest([0, 1]) AS k) s
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# JSON property extraction (events.props) — beyond the reference surface.


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select((k % 10).alias("k_bucket"), dec2("value").alias("v"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), as_double(F.sum("v")).alias("total_value"))
    )


JSON_PROPS_SQL = """
SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


def json_typed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing via from_json with an explicit schema — ONE parse
    per row no matter how many fields are pulled (get_json_object re-parses
    per field; at 100 TB the difference is a full extra scan per field).
    Malformed documents yield NULL fields (PERMISSIVE mode), the same
    contract as the oracle's TRY_CAST."""
    e = T(spark, sf_dir, "events")
    p = F.from_json("props", "k bigint")
    return (
        e.select(p.getField("k").alias("k"), dec2("value").alias("v"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(as_double(F.sum("v")) / F.count(F.lit(1)), 6).alias("avg_value"),
        )
    )


JSON_TYPED_SQL = """
SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Comma-decimal parsing with garbage -> NULL (fb_meta_ads_transformed.sql:11-14).


def comma_decimal_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    raw = F.when(F.col("l_linenumber") == 1, F.lit("n/a")).otherwise(
        F.replace(F.col("l_extendedprice").cast("string"), F.lit("."), F.lit(","))
    )
    return l.select(
        "l_orderkey",
        "l_linenumber",
        comma_decimal(raw).alias("parsed_price"),
    )


COMMA_DECIMAL_SQL = """
SELECT l_orderkey, l_linenumber,
  TRY_CAST(replace(CASE WHEN l_linenumber = 1 THEN 'n/a'
                        ELSE replace(CAST(l_extendedprice AS VARCHAR), '.', ',') END,
                   ',', '.') AS DOUBLE) AS parsed_price
FROM lineitem
"""

# ---------------------------------------------------------------------------
# Dual-format datetime parsing keyed on string length (dim_datetime.sql:7-16).


def dual_format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    mm = "lpad(CAST(month(o_orderdate) AS STRING), 2, '0')"
    dd = "lpad(CAST(dayofmonth(o_orderdate) AS STRING), 2, '0')"
    yyyy = "CAST(year(o_orderdate) AS STRING)"
    yy = "lpad(CAST(year(o_orderdate) % 100 AS STRING), 2, '0')"
    long_str = f"concat({mm}, '/', {dd}, '/', {yyyy}, ' 08:30')"
    short_str = f"concat({mm}, '/', {dd}, '/', {yy}, ' 08:30')"
    # 2-digit years only for >= 2000: Spark 'yy' pivots to 2000-2099 while
    # POSIX %y pivots at 69 — keep to the agreeing range (SURVEY.md §7.4).
    raw = (
        f"CASE WHEN (o_orderkey % 2 = 0) AND (year(o_orderdate) >= 2000) "
        f"THEN {short_str} ELSE {long_str} END"
    )
    return o.selectExpr(
        "o_orderkey", f"{raw} AS raw_dt", f"{dual_format_timestamp_sql(raw)} AS parsed_ts"
    )


DUAL_FORMAT_SQL = """
WITH raws AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 2 = 0 AND EXTRACT(YEAR FROM o_orderdate) >= 2000
      THEN concat(lpad(CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR), 2, '0'), '/',
                  lpad(CAST(EXTRACT(DAY FROM o_orderdate) AS VARCHAR), 2, '0'), '/',
                  lpad(CAST(EXTRACT(YEAR FROM o_orderdate) % 100 AS VARCHAR), 2, '0'), ' 08:30')
      ELSE concat(lpad(CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR), 2, '0'), '/',
                  lpad(CAST(EXTRACT(DAY FROM o_orderdate) AS VARCHAR), 2, '0'), '/',
                  CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR), ' 08:30')
    END AS raw_dt
  FROM orders
)
SELECT o_orderkey, raw_dt,
  CASE WHEN length(raw_dt) >= 16 THEN try_strptime(raw_dt, '%m/%d/%Y %H:%M')
       ELSE try_strptime(raw_dt, '%m/%d/%y %H:%M') END AS parsed_ts
FROM raws
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_revenue_orders": q3_top_revenue_orders,
    "q5_nation_revenue": q5_nation_revenue,
    "dim_distinct_extract": dim_distinct_extract,
    "dim_extract_all_columns": dim_extract_all_columns,
    "multi_distinct_combos": multi_distinct_combos,
    "customers_without_orders": customers_without_orders,
    "parts_never_ordered": parts_never_ordered,
    "computed_key_left_join": computed_key_left_join,
    "normalized_key_join": normalized_key_join,
    "case_canonical_segments": case_canonical_segments,
    "surrogate_customer_keys": surrogate_customer_keys,
    "quality_checks_lineitem": quality_checks_lineitem,
    "row_number_ids": row_number_ids,
    "customer_order_ranks": customer_order_ranks,
    "topk_orders": topk_orders,
    "union_incremental_orders": union_incremental_orders,
    "except_rich_customers_without_orders": except_rich_customers_without_orders,
    "report_orders_by_nation": report_orders_by_nation,
    "report_quantity_by_part": report_quantity_by_part,
    "report_orders_by_year": report_orders_by_year,
    "tumbling_events": tumbling_events,
    "sliding_events": sliding_events,
    "json_props_extract": json_props_extract,
    "json_typed_extract": json_typed_extract,
    "comma_decimal_parse": comma_decimal_parse,
    "dual_format_dates": dual_format_dates,
}

ORACLE = {
    "q1_pricing_summary": Q1_SQL,
    "q3_top_revenue_orders": Q3_SQL,
    "q5_nation_revenue": Q5_SQL,
    "dim_distinct_extract": DIM_DISTINCT_SQL,
    "dim_extract_all_columns": DIM_EXTRACT_ALL_SQL,
    "multi_distinct_combos": MULTI_DISTINCT_SQL,
    "customers_without_orders": CUST_NO_ORDERS_SQL,
    "parts_never_ordered": PARTS_NEVER_SQL,
    "computed_key_left_join": COMPUTED_KEY_SQL,
    "normalized_key_join": NORMALIZED_KEY_SQL,
    "case_canonical_segments": CASE_CANONICAL_SQL,
    "surrogate_customer_keys": SURROGATE_SQL,
    "quality_checks_lineitem": QUALITY_CHECKS_SQL,
    "row_number_ids": ROW_NUMBER_SQL,
    "customer_order_ranks": ORDER_RANKS_SQL,
    "topk_orders": TOPK_SQL,
    "union_incremental_orders": UNION_INCR_SQL,
    "except_rich_customers_without_orders": EXCEPT_SQL,
    "report_orders_by_nation": ORDERS_BY_NATION_SQL,
    "report_quantity_by_part": QUANTITY_BY_PART_SQL,
    "report_orders_by_year": ORDERS_BY_YEAR_SQL,
    "tumbling_events": TUMBLING_SQL,
    "sliding_events": SLIDING_SQL,
    "json_props_extract": JSON_PROPS_SQL,
    "json_typed_extract": JSON_TYPED_SQL,
    "comma_decimal_parse": COMMA_DECIMAL_SQL,
    "dual_format_dates": DUAL_FORMAT_SQL,
}
