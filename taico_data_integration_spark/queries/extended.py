"""Extended analytics surface — capabilities the reference lacks but a
Spark-native engine gets idiomatically (SURVEY.md §2.4 note: cube/rollup/
approx free from Spark; §4 optional extensions). Each query has a DuckDB
oracle unless the algorithm is engine-specific (approx sketches)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..quoting import ident
from ._util import T, as_double, dec2

# ---------------------------------------------------------------------------
# ROLLUP / CUBE / GROUPING SETS.


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: ROLLUP expands every row x3 before the partial aggregate, so
    # per-row work is heavy enough to amortize the fan-out exchange
    # (measured 1.12 -> 0.93 s; plain aggs like q1 LOSE with fan-out — the
    # single-task scan+decode dominates them and stays serial either way)
    l = T(spark, sf_dir, "lineitem", fan_out=True)
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            as_double(F.sum(dec2("l_extendedprice"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        )
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", F.year("o_orderdate").cast("bigint").alias("order_year"))
        .cube("o_orderstatus", "order_year")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


CUBE_SQL = """
SELECT o_orderstatus, order_year, COUNT(*) AS n_orders
FROM (SELECT o_orderstatus, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year FROM orders) t
GROUP BY CUBE (o_orderstatus, order_year)
"""


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expressed through the SQL-string IR (the reference's native IR,
    SURVEY.md §1.1) over registered views — spark.sql runs it verbatim."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        """
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
"""

# ---------------------------------------------------------------------------
# PIVOT (statuses to columns).


def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.select(F.year("o_orderdate").cast("bigint").alias("order_year"), "o_orderstatus")
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(F.lit(1)))
    )


PIVOT_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
FROM orders GROUP BY 1
"""

# ---------------------------------------------------------------------------
# INTERSECT.


def intersect_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    y98 = o.where(F.year("o_orderdate") == 1998).select("o_custkey").distinct()
    y00 = o.where(F.year("o_orderdate") == 2000).select("o_custkey").distinct()
    return y98.intersect(y00)


INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1998
INTERSECT
SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 2000
"""

# ---------------------------------------------------------------------------
# As-of join: latest prior click per purchase (per user). Spark lacks a
# native ASOF JOIN; the scalable pattern is a single-pass window carry
# (sort within user partition, carry the last click seen) — no join at all.


def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = e.withColumn(
        "last_click",
        F.last(
            F.when(F.col("event_type") == "click", F.struct("ts", "event_id")), ignorenulls=True
        ).over(w),
    )
    return carried.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("last_click.event_id").alias("click_id"),
        F.date_format("last_click.ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


ASOF_SQL = """
WITH ranked AS (
  SELECT p.event_id AS purchase_id, p.user_id,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         c.event_id AS click_id, strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
         row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
)
SELECT purchase_id, user_id, purchase_ts, click_id, click_ts FROM ranked WHERE rn = 1
"""

def string_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 breadth: the string/null function families the reference's SQL
    and pandas transforms lean on, in one parity-gated pass — pad, split,
    translate, repeat/reverse, NULLIF-based blank detection, ascii/chr."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_lpad"),
        F.rpad(F.col("c_name"), 24, ".").alias("name_rpad"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_number"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_translated"),
        F.repeat(F.lit("*"), (F.col("c_nationkey") % 4).cast("int")).alias("stars"),
        F.reverse(F.col("c_name")).alias("name_rev"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).isNull().alias("is_building"),
        F.ascii(F.substring(F.col("c_name"), 1, 1)).cast("bigint").alias("first_ascii"),
        F.chr(F.lit(65) + F.col("c_nationkey") % 26).alias("nation_letter"),
    )


STRING_SUITE_SQL = """
SELECT c_custkey,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_lpad,
       rpad(c_name, 24, '.') AS name_rpad,
       split_part(c_name, '#', 2) AS name_number,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated,
       repeat('*', CAST(c_nationkey % 4 AS INT)) AS stars,
       reverse(c_name) AS name_rev,
       (nullif(c_mktsegment, 'BUILDING') IS NULL) AS is_building,
       CAST(ascii(substr(c_name, 1, 1)) AS BIGINT) AS first_ascii,
       chr(65 + CAST(c_nationkey AS INT) % 26) AS nation_letter
FROM customer
"""


def datetime_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date/time breadth beyond the extract/dual-format queries:
    month-end (last_day), calendar arithmetic with end-of-month clamping
    (add_months), quarter, ISO week, day-of-year, quarter truncation —
    each verified to agree with DuckDB's semantics."""
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.last_day(F.to_date("o_orderdate")).alias("month_end"),
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus3m"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.weekofyear("o_orderdate").cast("bigint").alias("iso_week"),
        F.dayofyear("o_orderdate").cast("bigint").alias("doy"),
        F.to_date(F.date_trunc("quarter", "o_orderdate")).alias("quarter_start"),
    )


DATETIME_SUITE_SQL = """
SELECT o_orderkey,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
       CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
FROM orders
"""


def array_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 collection-function breadth: collect/sort/distinct/contains/
    slice over per-order line arrays. Array outputs are joined to strings —
    array renderings differ across engines but the joined string hashes
    identically (and DuckDB's list_distinct does not even preserve order,
    so distinct feeds a count, never an output)."""
    l = T(spark, sf_dir, "lineitem")
    lines_sorted = F.sort_array(F.collect_list(F.col("l_linenumber").cast("bigint")))
    qtys = F.collect_list(F.col("l_quantity").cast("bigint"))
    return l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.array_join(
            F.transform(lines_sorted, lambda x: x.cast("string")), ","
        ).alias("lines_csv"),
        F.size(F.array_distinct(qtys)).cast("bigint").alias("n_distinct_qty"),
        F.array_contains(lines_sorted, F.lit(7)).alias("has_line_7"),
        F.array_join(
            F.transform(
                F.slice(F.reverse(F.sort_array(qtys)), 1, 3), lambda x: x.cast("string")
            ),
            ",",
        ).alias("top3_qty_csv"),
    )


ARRAY_SUITE_SQL = """
SELECT l_orderkey,
       COUNT(*) AS n_lines,
       array_to_string(list_sort(list(CAST(l_linenumber AS BIGINT))), ',') AS lines_csv,
       CAST(len(list_distinct(list(CAST(l_quantity AS BIGINT)))) AS BIGINT) AS n_distinct_qty,
       list_contains(list_sort(list(CAST(l_linenumber AS BIGINT))), 7) AS has_line_7,
       array_to_string(list_reverse(list_sort(list(CAST(l_quantity AS BIGINT))))[1:3], ',') AS top3_qty_csv
FROM lineitem
GROUP BY l_orderkey
"""


def bitwise_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate parity (bit_and/bit_or/bit_xor) — the integer
    lattice aggregates used for permission masks and feature flags; fully
    associative/commutative, so partitioning-invariant by construction."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and(F.col("o_orderkey")).alias("key_band"),
        F.bit_or(F.col("o_orderkey")).alias("key_bor"),
        F.bit_xor(F.col("o_orderkey")).alias("key_bxor"),
        F.count(F.lit(1)).alias("n_orders"),
    )


BITWISE_SUITE_SQL = """
SELECT o_orderpriority,
       bit_and(o_orderkey) AS key_band,
       bit_or(o_orderkey) AS key_bor,
       bit_xor(o_orderkey) AS key_bxor,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


def quantiles_and_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles next to the approx-percentile sketch.
    Exactness trick: quantiles run over integer CENTS, so the interpolation
    fraction is a power of two ((n-1)*q at q=0.25/0.5/0.75) and every
    engine's lerp formula gives the bit-identical double. The KLL-style
    approx_percentile is engine-specific, so it contributes a hash-checked
    within-tolerance boolean (same pattern as the HLL sketch queries)."""
    o = T(spark, sf_dir, "orders")
    cents = F.round(dec2("o_totalprice", 12) * 100).cast("bigint")
    base = o.select("o_orderpriority", cents.alias("cents"))
    agg = base.groupBy("o_orderpriority").agg(
        F.percentile("cents", 0.25).alias("q25_cents"),
        F.percentile("cents", 0.5).alias("median_cents"),
        F.percentile("cents", 0.75).alias("q75_cents"),
        F.approx_percentile("cents", 0.5, 10000).alias("__approx_med"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    tol = F.col("median_cents") * F.lit(0.02)
    return agg.select(
        "o_orderpriority",
        "n_orders",
        "q25_cents",
        "median_cents",
        "q75_cents",
        (F.abs(F.col("__approx_med").cast("double") - F.col("median_cents")) <= tol).alias(
            "approx_median_within_tol"
        ),
    )


QUANTILES_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       quantile_cont(CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT), 0.25) AS q25_cents,
       quantile_cont(CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT), 0.5) AS median_cents,
       quantile_cont(CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT), 0.75) AS q75_cents,
       TRUE AS approx_median_within_tol
FROM orders
GROUP BY o_orderpriority
"""


def asof_cogroup_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of semantics as asof_last_click_before_purchase, but through
    the cogroup+applyInPandas operator (ops.grouped.asof_join_cogroup) —
    driver-verified evidence that the pandas path agrees with SQL. The
    events fixture has zero (user_id, ts) ties, so strictly-before matching
    is unambiguous."""
    from ..ops.grouped import asof_join_cogroup

    e = T(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    purchases = e.where(F.col("event_type") == "purchase").drop("event_type")
    clicks = e.where(F.col("event_type") == "click").drop("event_type")
    out = asof_join_cogroup(purchases, clicks, "user_id", "ts", ["event_id"])
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("event_id_right").alias("click_id"),
    )


ASOF_COGROUP_SQL = """
WITH ranked AS (
  SELECT p.event_id AS purchase_id, p.user_id,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         c.event_id AS click_id,
         row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND c.ts < p.ts
)
SELECT purchase_id, user_id, purchase_ts, click_id FROM ranked WHERE rn = 1
"""


def salted_priority_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join operator on a maximally skewed key (5 priority values
    over all orders). The oracle is the plain projection the join is
    equivalent to — salting must be invisible in the result."""
    from ..ops.skew import salted_join

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    dim = o.select("o_orderpriority").distinct().withColumn(
        "priority_class", F.expr("substr(o_orderpriority, 3)")
    )
    return salted_join(o, dim, ["o_orderpriority"], salt_buckets=8).select(
        "o_orderkey", "o_orderpriority", "priority_class"
    )


SALTED_JOIN_SQL = """
SELECT o_orderkey, o_orderpriority, substr(o_orderpriority, 3) AS priority_class
FROM orders
"""


# ---------------------------------------------------------------------------
# Distinct counting: exact (oracle-checked) and HLL sketch (rows-only).


def count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


COUNT_DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1
"""

APPROX_DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, TRUE AS approx_within_tol
FROM events GROUP BY 1
"""


def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count pattern: HLL
    sketches are built once per fine grain (event_type, day) and unioned up
    a level without rescanning raw rows; exact COUNT(DISTINCT) cannot roll
    up that way (distinct is not partial-aggregatable across grains). Same
    bounds-oracle shape as approx_distinct_users: the hash-checked output
    is the exact count plus a within-tolerance boolean for the rolled-up
    sketch estimate."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est")
    )
    exact = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))
    tol = F.greatest(F.lit(1.0), F.col("n_users").cast("double") * F.lit(0.10))
    return rolled.join(exact, "event_type").select(
        "event_type",
        "n_users",
        (F.abs(F.col("__est").cast("double") - F.col("n_users").cast("double")) <= tol).alias(
            "sketch_within_tol"
        ),
    )


SKETCH_ROLLUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, TRUE AS sketch_within_tol
FROM events GROUP BY 1
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch with a bounds-style oracle: the estimate itself
    is engine-specific (no SQL oracle can reproduce the sketch), so the
    hash-checked output is the exact count plus a boolean asserting the
    sketch landed within 5x its configured rsd — the oracle emits TRUE
    unconditionally, so a drifting sketch fails the value hash."""
    e = T(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__approx"),
    )
    tol = F.greatest(F.lit(1.0), F.col("n_users").cast("double") * F.lit(0.10))
    return agg.select(
        "event_type",
        "n_users",
        (F.abs(F.col("__approx").cast("double") - F.col("n_users").cast("double")) <= tol).alias(
            "approx_within_tol"
        ),
    )


# ---------------------------------------------------------------------------
# Skew handling: salted aggregation. Two-phase agg (salted partial -> final)
# produces identical results to a direct groupBy while spreading a hot key
# over `salt_buckets` reducers — the 100 TB pattern for skewed keys.


def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    salted = e.withColumn("__salt", (F.col("event_id") % 8).cast("int"))
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(dec2("value")).alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        as_double(F.sum("pv")).alias("total_value"),
    )


SALTED_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Window frames: RANGE running totals (peers included) + distribution ranks.


def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        as_double(F.sum(dec2("o_totalprice")).over(w_range)).alias("running_total"),
        F.round(F.percent_rank().over(w_rank), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w_rank), 6).alias("price_cume_dist"),
    )


RUNNING_TOTALS_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
  ROUND(percent_rank() OVER w2, 6) AS price_pct_rank,
  ROUND(cume_dist() OVER w2, 6) AS price_cume_dist
FROM orders
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice)
"""

# ---------------------------------------------------------------------------
# Grouped-map normalization (§2.11): window-expression form (oracle-checked);
# ops.grouped.zscore_apply_in_pandas is the Arrow escape-hatch twin
# (equality-tested in tests/test_ops.py).


def event_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.grouped import zscore_window

    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return zscore_window(e, "event_type", "value").select("event_id", "event_type", "zscore")


ZSCORE_SQL = """
SELECT event_id, event_type,
       ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 6) AS zscore
FROM events
WINDOW w AS (PARTITION BY event_type)
"""

# ---------------------------------------------------------------------------
# Regexp capture-group reformat (block codes, mms_lb_staged.sql:16) — the
# $1-vs-\\1 dialect translation demo (SURVEY.md §7.4 hazard 6).


def block_code_reformat_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.transforms import block_code_reformat

    o = T(spark, sf_dir, "orders")
    raw = F.lpad((F.col("o_orderkey") % 100000000).cast("string"), 8, "0")
    return o.select("o_orderkey", raw.alias("raw_code"), block_code_reformat(raw).alias("block_code"))


BLOCK_CODE_SQL = """
SELECT o_orderkey,
       lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 8, '0') AS raw_code,
       regexp_replace(lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 8, '0'),
                      '(\\d{2})(\\d{2})(\\d{2})(\\d{2})', '\\1-\\2-\\3-\\4') AS block_code
FROM orders
"""

# ---------------------------------------------------------------------------
# Statistical aggregates: correlation / covariance per group.


def price_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
    )


PRICE_STATS_SQL = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar,
       ROUND(stddev_samp(l_extendedprice), 4) AS price_stddev
FROM lineitem GROUP BY l_returnflag
"""

# ---------------------------------------------------------------------------
# EXISTS / scalar subqueries through the SQL-string IR.


def exists_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer_v c
        WHERE EXISTS (SELECT 1 FROM orders_v o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


EXISTS_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


# ---------------------------------------------------------------------------
# Conversion funnel: view -> click-after-view -> purchase-after-click per
# user, reduced to stage counts. Three conditional-min aggregations, each
# gated on the previous stage's timestamp.


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-shuffle formulation (r12): the three stage timestamps are
    cascaded window minima over ONE per-user partitioning instead of three
    groupBy+join rounds (6 shuffles -> 1 + the final scalar aggregate).
    Equivalence to the join form: c_ts = min(click ts > v_ts) is NULL
    whenever v_ts is NULL (NULL comparison -> no rows qualify), exactly as
    the inner join dropped those users; same for p_ts vs c_ts. The
    user-grain distinct and the per-user stage columns share the window's
    hash partitioning, so neither adds an exchange."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    v_ts = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = e.withColumn("v_ts", v_ts)
    c_ts = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")), F.col("ts"))
    ).over(w)
    staged = staged.withColumn("c_ts", c_ts)
    p_ts = F.min(
        F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")), F.col("ts"))
    ).over(w)
    staged = staged.withColumn("p_ts", p_ts)
    per_user = (
        staged.select("user_id", "v_ts", "c_ts", "p_ts")
        .distinct()
        .where(F.col("v_ts").isNotNull())
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("viewers"),
        F.count("c_ts").alias("clicked_after_view"),
        F.count("p_ts").alias("purchased_after_click"),
    )


FUNNEL_SQL = """
WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
fv AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
       FROM e GROUP BY user_id),
fc AS (SELECT e.user_id, MIN(e.ts) AS c_ts
       FROM e JOIN fv ON e.user_id = fv.user_id
       WHERE e.event_type = 'click' AND e.ts > fv.v_ts GROUP BY e.user_id),
fp AS (SELECT e.user_id, MIN(e.ts) AS p_ts
       FROM e JOIN fc ON e.user_id = fc.user_id
       WHERE e.event_type = 'purchase' AND e.ts > fc.c_ts GROUP BY e.user_id)
SELECT COUNT(*) AS viewers, COUNT(c_ts) AS clicked_after_view,
       COUNT(p_ts) AS purchased_after_click
FROM fv LEFT JOIN fc USING (user_id) LEFT JOIN fp USING (user_id)
WHERE v_ts IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Q11-style: groups whose aggregate exceeds a fraction of the global total
# (scalar-subquery threshold); exact sums, double compare at the edge.


def q11_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose revenue exceeds 1.1x the per-supplier average
    (scale-free threshold). The threshold compare runs in EXACT integer
    cents (supp * n * 10 > total * 11) — a double-sum compare here would be
    partial-agg-order-dependent and could flip boundary rows between runs."""
    l = T(spark, sf_dir, "lineitem")
    cents = (F.round(F.col("l_extendedprice") * 100).cast("long")
             * (100 - F.round(F.col("l_discount") * 100).cast("long")))
    per_supp = l.groupBy("l_suppkey").agg(
        F.sum(cents.cast("decimal(38,0)")).alias("supp_cents")
    )
    total = per_supp.agg(
        F.sum("supp_cents").alias("total_cents"), F.count(F.lit(1)).alias("n_supp")
    )
    return (
        per_supp.crossJoin(F.broadcast(total))
        .where(
            F.col("supp_cents") * F.col("n_supp") * F.lit(10)
            > F.col("total_cents") * F.lit(11)
        )
        .select(
            "l_suppkey",
            (F.col("supp_cents").cast("double") / F.lit(10000.0)).alias("supp_value"),
            F.round(F.col("supp_cents").cast("double") / F.col("total_cents").cast("double"), 6).alias("value_share"),
        )
    )


Q11_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS DECIMAL(38,0))) AS supp_cents
  FROM lineitem GROUP BY 1),
tot AS (SELECT SUM(supp_cents) AS total_cents, COUNT(*) AS n_supp FROM per_supp)
SELECT l_suppkey,
       CAST(supp_cents AS DOUBLE) / 10000.0 AS supp_value,
       ROUND(CAST(supp_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6) AS value_share
FROM per_supp, tot
WHERE supp_cents * n_supp * 10 > total_cents * 11
"""

# ---------------------------------------------------------------------------
# NTILE quartiles over customer balances (deterministic id tie-break).


def ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.dims import mint_ids_distributed

    # NTILE without a global window (was a guarded 1M-cap single-partition
    # sort until round 4): global rank from mint_ids_distributed, then the
    # exact NTILE bucketing arithmetic — with n = q*4 + r, the first r
    # buckets take q+1 rows, the rest q. Identical output to ntile(4) OVER
    # (ORDER BY c_acctbal, c_custkey) since the order key is unique; no
    # stage exceeds one range partition at any input size.
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked, n = mint_ids_distributed(
        c, [F.col("c_acctbal"), F.col("c_custkey")], id_col="rnk", with_total=True
    )
    # n comes from the minter's per-partition counts — no second count job,
    # and the bucket arithmetic is pure literals (no scalar broadcast join)
    q, r = n // 4, n % 4
    big = q + 1
    quartile = F.when(
        F.col("rnk") <= F.lit(r * big), F.floor((F.col("rnk") - 1) / F.lit(big)) + 1
    ).otherwise(
        F.lit(r) + F.floor((F.col("rnk") - 1 - r * big) / F.lit(max(q, 1))) + 1
    )
    return ranked.select(
        "c_custkey",
        dec2("c_acctbal", 12).cast("double").alias("acctbal"),
        quartile.cast("bigint").alias("quartile"),
    )


NTILE_SQL = """
SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
       CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
FROM customer
"""

# ---------------------------------------------------------------------------
# Fuzzy name matching by edit distance (the generalization of the
# reference's canonical-name mapping, J5/J6): deterministically corrupted
# supplier names matched back to the canonical list by min levenshtein.


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = T(spark, sf_dir, "supplier")
    # drop one character at a key-dependent position (inside the digit tail)
    pos = (F.col("s_suppkey") % 8 + 10).cast("int")
    corrupted = s.select(
        "s_suppkey",
        F.concat(
            F.substring("s_name", 1, 30).substr(F.lit(1), pos - 1),
            F.col("s_name").substr(pos + 1, F.lit(30)),
        ).alias("corrupt_name"),
    )
    canon = s.select(F.col("s_name").alias("canonical"))
    w = Window.partitionBy("s_suppkey").orderBy("dist", "canonical")
    return (
        corrupted.crossJoin(F.broadcast(canon))
        .withColumn("dist", F.levenshtein("corrupt_name", "canonical").cast("bigint"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("s_suppkey", "corrupt_name", F.col("canonical").alias("best_match"), "dist")
    )


FUZZY_SQL = """
WITH corrupted AS (
  SELECT s_suppkey,
         substr(s_name, 1, CAST(s_suppkey % 8 + 10 AS INT) - 1)
           || substr(s_name, CAST(s_suppkey % 8 + 10 AS INT) + 1, 30) AS corrupt_name
  FROM supplier),
scored AS (
  SELECT c.s_suppkey, c.corrupt_name, s.s_name AS canonical,
         CAST(levenshtein(c.corrupt_name, s.s_name) AS BIGINT) AS dist,
         row_number() OVER (PARTITION BY c.s_suppkey
                            ORDER BY levenshtein(c.corrupt_name, s.s_name), s.s_name) AS rn
  FROM corrupted c CROSS JOIN supplier s)
SELECT s_suppkey, corrupt_name, canonical AS best_match, dist
FROM scored WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Blocked entity resolution — the fact-scale version of fuzzy_name_match.
# The all-pairs variant above is the intentionally-broadcast dim-sized
# baseline; real ER at scale makes the candidate step an EQUI-join. Prefix/
# suffix blocks degenerate here (every TPC-H supplier name is 'Supplier#' +
# zero-padded digits, so any fixed substring is near-constant — one hot
# block = a hidden cross join). Instead we use deletion-neighborhood
# blocking (FastSS / SymSpell): the canonical side explodes into all
# single-character-deletion variants (×~len rows, bounded by name length)
# and candidates are an equi-join of corrupt_name against the variant
# string itself. For the 1-deletion noise model this has full recall by
# construction, block keys are full strings whose distinct count grows
# O(rows·len), and the max block size is the deletion-collision count — a
# small constant — so the shuffle has no hot key at any scale.


def entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = T(spark, sf_dir, "supplier")
    pos = (F.col("s_suppkey") % 8 + 10).cast("int")
    corrupted = s.select(
        "s_suppkey",
        F.concat(
            F.substring("s_name", 1, 30).substr(F.lit(1), pos - 1),
            F.col("s_name").substr(pos + 1, F.lit(30)),
        ).alias("corrupt_name"),
    )
    variants = er_deletion_variants(s.select(F.col("s_name").alias("canonical")), "canonical")
    w = Window.partitionBy("s_suppkey").orderBy("dist", "canonical")
    return (
        corrupted.join(variants, corrupted.corrupt_name == variants.del_variant)
        .withColumn("dist", F.levenshtein("corrupt_name", "canonical").cast("bigint"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("s_suppkey", "corrupt_name", F.col("canonical").alias("best_match"), "dist")
    )


def er_deletion_variants(df: DataFrame, col: str, max_len: int = 64) -> DataFrame:
    """All single-character-deletion variants of `col` (FastSS k=1 index):
    (col, del_variant) with one row per deletion position, deduplicated."""
    c = ident(col)
    return (
        df.select(col, F.explode(F.sequence(F.lit(1), F.least(F.length(col), F.lit(max_len)))).alias("__i"))
        .select(
            col,
            F.concat(
                F.expr(f"substring({c}, 1, __i - 1)"),
                F.expr(f"substring({c}, __i + 1, length({c}))"),
            ).alias("del_variant"),
        )
        .dropDuplicates([col, "del_variant"])
    )


ER_BLOCKED_SQL = """
WITH corrupted AS (
  SELECT s_suppkey,
         substr(s_name, 1, CAST(s_suppkey % 8 + 10 AS INT) - 1)
           || substr(s_name, CAST(s_suppkey % 8 + 10 AS INT) + 1, 30) AS corrupt_name
  FROM supplier),
variants AS (
  SELECT DISTINCT s_name AS canonical,
         substr(s_name, 1, CAST(i AS INT) - 1)
           || substr(s_name, CAST(i AS INT) + 1, length(s_name)) AS del_variant
  FROM supplier CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE i <= length(s_name)),
scored AS (
  SELECT c.s_suppkey, c.corrupt_name, v.canonical,
         CAST(levenshtein(c.corrupt_name, v.canonical) AS BIGINT) AS dist,
         row_number() OVER (PARTITION BY c.s_suppkey
                            ORDER BY levenshtein(c.corrupt_name, v.canonical), v.canonical) AS rn
  FROM corrupted c JOIN variants v ON c.corrupt_name = v.del_variant)
SELECT s_suppkey, corrupt_name, canonical AS best_match, dist
FROM scored WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Band join: supplier pairs in the same nation within an account-balance
# tolerance — executed as a bucketed EQUI-join (ops.joins.band_join), never
# a nested-loop theta join; the oracle runs the naive theta form.


def band_join_balance_peers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.joins import band_join

    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
    pairs = band_join(s, s, "s_acctbal", eps=500.0, extra_keys=["s_nationkey"])
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")  # noqa: E731
    return pairs.where(F.col("s_suppkey_l") < F.col("s_suppkey_r")).select(
        "s_nationkey",
        "s_suppkey_l",
        "s_suppkey_r",
        # exact integer-cents difference: no double rounding at the edge
        F.abs(cents("s_acctbal_l") - cents("s_acctbal_r")).alias("bal_diff_cents"),
    )


BAND_JOIN_SQL = """
SELECT a.s_nationkey AS s_nationkey, a.s_suppkey AS s_suppkey_l,
       b.s_suppkey AS s_suppkey_r,
       ABS(CAST(round(a.s_acctbal * 100) AS BIGINT)
         - CAST(round(b.s_acctbal * 100) AS BIGINT)) AS bal_diff_cents
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey
 AND a.s_suppkey < b.s_suppkey
 AND ABS(a.s_acctbal - b.s_acctbal) <= 500.0
"""


# ---------------------------------------------------------------------------
# Window-function rest-suite: the offset/positional window primitives not
# already exercised by other gated queries — lag/lead with non-null
# defaults, first/last/nth_value over an explicit full-partition frame.
# Money goes through exact cents so every output is integer-deterministic.


def window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    cents = F.round(dec2("o_totalprice", 12) * 100).cast("bigint")
    base = o.select("o_orderkey", "o_custkey", "o_orderdate", cents.alias("cents"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return base.select(
        "o_orderkey",
        "o_custkey",
        "cents",
        F.lag("cents", 1, 0).over(w).alias("prev_cents"),
        F.lead("cents", 1, -1).over(w).alias("next_cents"),
        F.first("cents").over(wf).alias("first_cents"),
        F.last("cents").over(wf).alias("last_cents"),
        F.nth_value("cents", 2).over(wf).alias("second_cents"),
    )


WINDOW_SUITE_SQL = """
SELECT o_orderkey, o_custkey, cents,
       lag(cents, 1, 0) OVER w AS prev_cents,
       lead(cents, 1, -1) OVER w AS next_cents,
       first_value(cents) OVER wf AS first_cents,
       last_value(cents) OVER wf AS last_cents,
       nth_value(cents, 2) OVER wf AS second_cents
FROM (SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
      FROM orders) t
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day order streaks per customer. The classic
# date-minus-row_number trick — consecutive dates share (days_since_epoch -
# rank), so islands fall out of one groupBy; no self-join, no iteration.
# All integer arithmetic.


def order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    d = o.select("o_custkey", F.col("o_orderdate").cast("date").alias("d")).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    g = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "grp", F.unix_date("d").cast("bigint") - F.col("rn")
    )
    streaks = g.groupBy("o_custkey", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("active_days"),
    )


ORDER_STREAKS_SQL = """
WITH d AS (SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
g AS (
  SELECT o_custkey, d,
         CAST(d - DATE '1970-01-01' AS BIGINT)
           - row_number() OVER (PARTITION BY o_custkey ORDER BY d) AS grp
  FROM d),
s AS (SELECT o_custkey, grp, COUNT(*) AS len FROM g GROUP BY 1, 2)
SELECT o_custkey, COUNT(*) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM s GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# Median absolute deviation — the robust dispersion statistic (outliers
# move stddev, not MAD). Cross-engine exactness extends the quartile trick
# one level: the group median over integer cents is integer or half-integer,
# so DOUBLED deviations are exact integers, and the median of those hits
# power-of-two interpolation fractions again — every engine's lerp agrees
# bit-for-bit. Halve at the output edge.


def mad_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    cents = F.round(dec2("o_totalprice", 12) * 100).cast("bigint")
    base = o.select("o_orderpriority", cents.alias("cents"))
    med = base.groupBy("o_orderpriority").agg(F.percentile("cents", 0.5).alias("m"))
    dev = base.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.col("m"),
        F.abs(F.col("cents") * 2 - (F.col("m") * 2).cast("bigint")).alias("dev2"),
    )
    return dev.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("m").alias("median_cents"),
        (F.percentile("dev2", 0.5) / 2).alias("mad_cents"),
    )


MAD_SQL = """
WITH b AS (
  SELECT o_orderpriority,
         CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
  FROM orders),
m AS (SELECT o_orderpriority, quantile_cont(cents, 0.5) AS m FROM b GROUP BY o_orderpriority),
d AS (
  SELECT b.o_orderpriority, m.m,
         abs(b.cents * 2 - CAST(m.m * 2 AS BIGINT)) AS dev2
  FROM b JOIN m ON b.o_orderpriority = m.o_orderpriority)
SELECT o_orderpriority, COUNT(*) AS n_orders, MIN(m) AS median_cents,
       quantile_cont(dev2, 0.5) / 2 AS mad_cents
FROM d GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Aggregate-breadth suite: the conditional/selective aggregates not already
# gated elsewhere — count_if, bool_and/bool_or, and max_by/min_by (argmax).
# max_by ties are engine-nondeterministic, so the ordering key folds the
# unique supplier key into exact integer cents: bit-identical selections.


def aggregate_breadth_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    s2 = T(spark, sf_dir, "supplier")
    key = (F.round(dec2("s_acctbal", 12) * 100).cast("bigint") * 10000000
           + F.col("s_suppkey").cast("bigint"))
    base = s2.select("s_nationkey", "s_suppkey", "s_name", "s_acctbal", key.alias("k"))
    return base.groupBy(F.col("s_nationkey").cast("bigint").alias("s_nationkey")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("s_acctbal") > 0).alias("n_positive"),
        F.bool_and(F.col("s_acctbal") > -1000).alias("all_above_floor"),
        F.bool_or(F.col("s_acctbal") > 9000).alias("any_rich"),
        F.max_by("s_name", "k").alias("richest_name"),
        F.min_by("s_name", "k").alias("poorest_name"),
    )


AGG_BREADTH_SQL = """
WITH b AS (
  SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, s_suppkey, s_name, s_acctbal,
         CAST(round(CAST(s_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT) * 10000000
           + CAST(s_suppkey AS BIGINT) AS k
  FROM supplier)
SELECT s_nationkey,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN s_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       bool_and(s_acctbal > -1000) AS all_above_floor,
       bool_or(s_acctbal > 9000) AS any_rich,
       arg_max(s_name, k) AS richest_name,
       arg_min(s_name, k) AS poorest_name
FROM b GROUP BY s_nationkey
"""


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs bought together in the same
# order, with support counts. The self-join is keyed on the ORDER (shuffle
# on l_orderkey; per-order pair fan-out is bounded by basket size, ~7 lines
# here), never all-pairs over parts — the same inverted-index shape as the
# n-gram dedup join, applied to affinity analysis.


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = l.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = l.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 3)
    )


BASKET_SQL = """
WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
FROM l a JOIN l b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over the co-occurrence pairs: confidence =
    support/count(A), lift = support * n_orders / (count(A) * count(B)).
    Per-part counts broadcast-join back; the order total is a 1-row
    broadcast (the allowlisted scalar BNLJ shape). All ratios are integer
    divisions in double, rounded at the edge — engine-deterministic."""
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = l.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = l.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 3)
    )
    counts = l.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    n_orders = l.select("l_orderkey").distinct().agg(F.count(F.lit(1)).alias("n_orders"))
    ca = counts.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = counts.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(F.col("support").cast("double") / F.col("cnt_a").cast("double"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                (F.col("support").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


BASKET_RULES_SQL = """
WITH l AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
  FROM l a JOIN l b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
counts AS (SELECT l_partkey, COUNT(*) AS cnt FROM l GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM l)
SELECT p.part_a, p.part_b, p.support,
       ROUND(CAST(p.support AS DOUBLE) / CAST(ca.cnt AS DOUBLE), 6) AS confidence_a_to_b,
       ROUND((CAST(p.support AS DOUBLE) * CAST(t.n_orders AS DOUBLE))
             / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)), 6) AS lift
FROM pairs p
JOIN counts ca ON ca.l_partkey = p.part_a
JOIN counts cb ON cb.l_partkey = p.part_b
CROSS JOIN tot t
"""


# ---------------------------------------------------------------------------
# Skyline (Pareto-optimal set) — "Integration of Skyline Queries into Spark
# SQL" (EDBT 2023) motivates native skyline support; this is the operator
# re-expressed with existing primitives. For the 2-D case (minimize price,
# maximize size) no self-join is needed: group to one row per distinct
# price (shuffle on price), cumulative-max over that compressed
# dimension-sized frame, broadcast the surviving prices back. A part is
# Pareto-optimal iff no part is cheaper-or-equal AND larger-or-equal with
# one strict — i.e. its price's running max over strictly-cheaper prices is
# below its size, and it carries the max size at its own price. The oracle
# is the textbook NOT EXISTS dominance test (quadratic, fine at oracle SF).


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    cents = F.round(dec2("p_retailprice", 12) * 100).cast("bigint")
    base = p.select(
        "p_partkey",
        "p_name",
        cents.alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    from ..ops.dims import guarded_dimension_frame

    per_price = guarded_dimension_frame(
        base.groupBy("price_cents").agg(F.max("size").alias("max_size")),
        label="skyline_parts distinct-price frame",
    )
    # global window over DISTINCT prices only — a compressed, dimension-sized
    # frame (guard-materialized above), not the fact rows
    w = Window.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, -1)
    sky_prices = (
        per_price.withColumn("max_cheaper", F.max("max_size").over(w))
        .where(F.col("max_cheaper").isNull() | (F.col("max_size") > F.col("max_cheaper")))
        .select("price_cents", "max_size")
    )
    return (
        base.join(F.broadcast(sky_prices), "price_cents")
        .where(F.col("size") == F.col("max_size"))
        .select("p_partkey", "p_name", "price_cents", "size")
    )


SKYLINE_SQL = """
WITH b AS (
  SELECT p_partkey, p_name,
         CAST(round(CAST(p_retailprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part)
SELECT p_partkey, p_name, price_cents, size
FROM b x
WHERE NOT EXISTS (
  SELECT 1 FROM b y
  WHERE y.price_cents <= x.price_cents AND y.size >= x.size
    AND (y.price_cents < x.price_cents OR y.size > x.size))
"""

# ---------------------------------------------------------------------------
# Recursive CTE on the Spark SQL surface (Spark 4 WITH RECURSIVE). Walks
# each customer's orders as a linked chain: anchor = first order by date,
# recursive step joins the (rn = pos + 1) successor. UNION ALL recursion on
# an acyclic structure, depth bounded by the longest per-customer chain.
# At scale the window formulation IS the plan of choice — this query exists
# to give recursive-SQL workloads a checked migration target, and the
# oracle runs the IDENTICAL statement text on DuckDB.

_RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE
seq AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
chain(o_orderkey, o_custkey, pos) AS (
  SELECT o_orderkey, o_custkey, CAST(1 AS BIGINT) FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.o_orderkey, s.o_custkey, c.pos + 1
  FROM chain c JOIN seq s ON s.o_custkey = c.o_custkey AND s.rn = c.pos + 1
)
SELECT o_orderkey, o_custkey, pos FROM chain
"""


def recursive_order_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    T(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_CHAIN_SQL)


QUERIES = {
    "recursive_order_chains": recursive_order_chains,
    "skyline_parts": skyline_parts,
    "entity_resolution_blocked": entity_resolution_blocked,
    "window_function_suite": window_function_suite,
    "order_streaks": order_streaks,
    "mad_order_values": mad_order_values,
    "aggregate_breadth_suite": aggregate_breadth_suite,
    "basket_part_pairs": basket_part_pairs,
    "basket_association_rules": basket_association_rules,
    "band_join_balance_peers": band_join_balance_peers,
    "rollup_revenue": rollup_revenue,
    "q11_important_suppliers": q11_important_suppliers,
    "ntile_balance_quartiles": ntile_balance_quartiles,
    "fuzzy_name_match": fuzzy_name_match,
    "event_funnel": event_funnel,
    "cube_order_counts": cube_order_counts,
    "grouping_sets_sales": grouping_sets_sales,
    "pivot_status_by_year": pivot_status_by_year,
    "intersect_repeat_customers": intersect_repeat_customers,
    "asof_last_click_before_purchase": asof_last_click_before_purchase,
    "asof_cogroup_purchases": asof_cogroup_purchases,
    "salted_priority_join": salted_priority_join,
    "string_function_suite": string_function_suite,
    "datetime_function_suite": datetime_function_suite,
    "array_function_suite": array_function_suite,
    "bitwise_agg_suite": bitwise_agg_suite,
    "quantiles_and_sketch": quantiles_and_sketch,
    "count_distinct_users": count_distinct_users,
    "approx_distinct_users": approx_distinct_users,
    "sketch_distinct_rollup": sketch_distinct_rollup,
    "salted_event_counts": salted_event_counts,
    "exists_high_value_customers": exists_high_value_customers,
    "event_value_zscores": event_value_zscores,
    "block_code_reformat_query": block_code_reformat_query,
    "customer_running_totals": customer_running_totals,
    "price_quantity_stats": price_quantity_stats,
}

ORACLE = {
    "recursive_order_chains": _RECURSIVE_CHAIN_SQL,
    "skyline_parts": SKYLINE_SQL,
    "entity_resolution_blocked": ER_BLOCKED_SQL,
    "window_function_suite": WINDOW_SUITE_SQL,
    "order_streaks": ORDER_STREAKS_SQL,
    "mad_order_values": MAD_SQL,
    "aggregate_breadth_suite": AGG_BREADTH_SQL,
    "basket_part_pairs": BASKET_SQL,
    "basket_association_rules": BASKET_RULES_SQL,
    "band_join_balance_peers": BAND_JOIN_SQL,
    "q11_important_suppliers": Q11_SQL,
    "ntile_balance_quartiles": NTILE_SQL,
    "fuzzy_name_match": FUZZY_SQL,
    "customer_running_totals": RUNNING_TOTALS_SQL,
    "price_quantity_stats": PRICE_STATS_SQL,
    "event_value_zscores": ZSCORE_SQL,
    "block_code_reformat_query": BLOCK_CODE_SQL,
    "rollup_revenue": ROLLUP_SQL,
    "event_funnel": FUNNEL_SQL,
    "cube_order_counts": CUBE_SQL,
    "grouping_sets_sales": GROUPING_SETS_SQL,
    "pivot_status_by_year": PIVOT_SQL,
    "intersect_repeat_customers": INTERSECT_SQL,
    "asof_last_click_before_purchase": ASOF_SQL,
    "asof_cogroup_purchases": ASOF_COGROUP_SQL,
    "salted_priority_join": SALTED_JOIN_SQL,
    "string_function_suite": STRING_SUITE_SQL,
    "datetime_function_suite": DATETIME_SUITE_SQL,
    "array_function_suite": ARRAY_SUITE_SQL,
    "bitwise_agg_suite": BITWISE_SUITE_SQL,
    "quantiles_and_sketch": QUANTILES_SQL,
    "count_distinct_users": COUNT_DISTINCT_SQL,
    "approx_distinct_users": APPROX_DISTINCT_SQL,
    "sketch_distinct_rollup": SKETCH_ROLLUP_SQL,
    "salted_event_counts": SALTED_SQL,
    "exists_high_value_customers": EXISTS_SQL,
}
