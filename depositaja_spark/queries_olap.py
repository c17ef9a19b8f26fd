"""Generic OLAP capability queries over the TPC-H-style tables.

The reference's own surface is narrow (SURVEY.md §2.6 lists what it does
NOT have); these queries pin the general relational surface the engine
offers beyond it — multi-way joins, sort/limit, window ranking, set ops,
distinct aggregation, rollup, pivot, scalar functions, sessionization —
each oracle-checked against DuckDB.

Determinism conventions (see functions/numeric.py): money aggregates are
exact DECIMAL sums cast to double; LIMIT queries carry a total tie-broken
ORDER BY; window ranks tie-break on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from depositaja_spark.functions.cache import tracked_persist
from depositaja_spark.functions.numeric import (
    dec,
    exact_avg,
    exact_sum,
    exact_sum_scaled,
    revenue_units4,
    scaled_long,
)
from depositaja_spark.registry import query
from depositaja_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_ONE = "CAST(1 AS DECIMAL(18,2))"
_EP = "CAST(l_extendedprice AS DECIMAL(18,2))"
_DISC = "CAST(l_discount AS DECIMAL(18,2))"
_TAX = "CAST(l_tax AS DECIMAL(18,2))"
_QTY = "CAST(l_quantity AS DECIMAL(18,2))"

# --- TPC-H Q1: wide aggregation ------------------------------------------------


@query(
    "tpch_q1",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum({_QTY}) AS DOUBLE) AS sum_qty,
       CAST(sum({_EP}) AS DOUBLE) AS sum_base_price,
       CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DOUBLE) AS sum_disc_price,
       CAST(sum({_EP} * ({_ONE} - {_DISC}) * ({_ONE} + {_TAX})) AS DOUBLE) AS sum_charge,
       CAST(sum({_QTY}) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum({_EP}) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum({_DISC}) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical wide groupBy — one shuffle
    with map-side partial aggregation over 8 measures; date predicate
    pushed to the parquet scan.  Measures run on the fixed-point fast
    path (functions/numeric.py): scaled-long per-row products (the
    decimal formulation pays a BigDecimal multiply per row — measured
    ~2× the whole query), exact DECIMAL(38,0) accumulation, identical
    values."""
    li = _t(spark, sf_dir, "lineitem")
    sel = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        scaled_long("l_quantity").alias("q2"),
        scaled_long("l_extendedprice").alias("p2"),
        scaled_long("l_discount").alias("d2"),
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
        ).alias("dp4"),
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
            " * (100 + CAST(round(l_tax * 100) AS BIGINT))"
        ).alias("ch6"),
    )
    n = F.count(F.lit(1))
    return sel.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum_scaled(F.col("q2"), 100).alias("sum_qty"),
        exact_sum_scaled(F.col("p2"), 100).alias("sum_base_price"),
        exact_sum_scaled(F.col("dp4"), 10_000).alias("sum_disc_price"),
        exact_sum_scaled(F.col("ch6"), 1_000_000).alias("sum_charge"),
        (exact_sum_scaled(F.col("q2"), 100) / n).alias("avg_qty"),
        (exact_sum_scaled(F.col("p2"), 100) / n).alias("avg_price"),
        (exact_sum_scaled(F.col("d2"), 100) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# --- TPC-H Q3: join + agg + deterministic top-k ---------------------------------


@query(
    "tpch_q3_topk",
    f"""
SELECT l_orderkey,
       CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DOUBLE) AS revenue,
       epoch_ms(o_orderdate) AS o_orderdate_ms,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter (customer) joined into
    the fact join, aggregate, deterministic top-10 (total order with unique
    tie-break, so LIMIT is engine-independent).  At scale: customer grows
    linearly with sf, so no forced broadcast hint — AQE picks broadcast
    from runtime statistics when the filtered side fits, and falls back to
    a shuffle join when it doesn't; lineitem⋈orders shuffles on the order
    key once."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    revenue4 = revenue_units4()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum_scaled(revenue4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            # parquet timestamp[ms] surfaces as TIMESTAMP_NTZ; cast to the
            # session-TZ (UTC) timestamp before taking epoch millis
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- TPC-H Q5 shape: 5-way join ---------------------------------------------------


@query(
    "revenue_by_nation",
    f"""
SELECT n_name,
       CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join (region→nation→customer, supplier)
    with local-supplier condition.  nation/region are fixed-size (25/5
    rows at ANY sf) → forced broadcast is always safe; customer and
    supplier grow linearly with sf, so their joins carry no hint — AQE
    broadcasts them while they fit and shuffles above that.  The single
    unavoidable big shuffle is lineitem⋈orders."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue4 = revenue_units4()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(exact_sum_scaled(revenue4).alias("revenue"))
    )


# --- window ranking: top-k per group ----------------------------------------------


@query(
    "top3_customers_per_segment",
    """
SELECT c_mktsegment, c_custkey, c_acctbal, rank FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rank
  FROM customer
) WHERE rank <= 3
""",
)
def q_top3_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window ranking (unique tie-break on c_custkey).
    One shuffle on the partition key; rank filter applied before any
    downstream consumer sees the rows."""
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        _t(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 3)
    )


# --- set operations -----------------------------------------------------------------


@query(
    "repeat_customers",
    """
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
""",
)
def q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers ordering both before and after the split date."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    before = orders.filter(F.col("o_orderdate") < cut).select("o_custkey")
    after = orders.filter(F.col("o_orderdate") >= cut).select("o_custkey")
    return before.intersect(after)


@query(
    "lapsed_customers",
    """
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
""",
)
def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who ordered before the split date but never after."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    before = orders.filter(F.col("o_orderdate") < cut).select("o_custkey")
    after = orders.filter(F.col("o_orderdate") >= cut).select("o_custkey")
    # subtract = EXCEPT (set) semantics; exceptAll would keep a key whose
    # left multiplicity exceeds its right multiplicity
    return before.subtract(after)


# --- semi / anti joins ----------------------------------------------------------------


@query(
    "customers_with_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join (no row duplication, probe side streamed)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "customers_without_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- distinct aggregation ----------------------------------------------------------------


@query(
    "distinct_parts_per_flag",
    """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def q_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct aggregation (expand + two-phase agg under the
    hood; Catalyst plans the dedup per distinct column)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- rollup ---------------------------------------------------------------------------------


@query(
    "rollup_returns",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum({_QTY}) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — subtotal + grand-total rows with NULL keys."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(exact_sum(dec("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


# --- pivot ----------------------------------------------------------------------------------


@query(
    "pivot_status_by_priority",
    """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
FROM orders GROUP BY o_orderpriority
""",
)
def q_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra pass to discover values
    — required practice at scale) and stable output column names."""
    p = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


# --- scalar function surface -------------------------------------------------------------------


@query(
    "scalar_functions",
    """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substring(p_name, 1, 8) AS name_prefix,
       CAST(length(p_name) AS INT) AS name_len,
       concat(p_brand, ':', p_type) AS brand_type,
       round(p_retailprice * 1.1, 2) AS marked_up,
       CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium'
            ELSE 'small' END AS size_class,
       abs(p_size - 25) AS size_dist,
       CAST(p_size % 5 AS INT) AS size_mod
FROM part
""",
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math/conditional surface — all JVM-side built-ins
    inside one whole-stage-codegen projection (no UDFs)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        (F.col("p_size") % 5).alias("size_mod"),
    )


# --- date/time bucketing -------------------------------------------------------------------------


@query(
    "events_hourly",
    """
SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series bucketing: hourly counts/sums per event type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_millis(F.date_trunc("hour", "ts")).alias("hour_ms"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(dec("value")).alias("total_value"),
    )


@query(
    "value_histogram",
    """
SELECT event_type,
       CAST(floor(value / 50.0) AS INT) AS bucket,
       count(*) AS n,
       round(min(value), 4) AS lo,
       round(max(value), 4) AS hi
FROM events
GROUP BY 1, 2
""",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type (bin width 50): one
    groupBy over derived bucket keys — the distributed histogram shape
    (portable floor arithmetic rather than width_bucket so the oracle
    mirrors the binning exactly; uniform bins make the two identical)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 50.0).cast("int").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


# --- sessionization -------------------------------------------------------------------------------


@query(
    "user_sessions",
    """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM gaps GROUP BY user_id
""",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap session starts via lag() — the batch
    analog of streaming session windows.  One shuffle on user_id shared by
    the window and the aggregation."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # exact microsecond gap, as the oracle's fractional epoch(): casting to
    # whole seconds first misjudges gaps within a second of the threshold
    new_session = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- grouping sets -------------------------------------------------------------------------------


@query(
    "grouping_sets_revenue",
    """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (by-status, by-priority, grand total) with
    grouping_id disambiguation — one pass, one shuffle; Spark expands the
    sets map-side like rollup/cube."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- distribution window functions ---------------------------------------------------------------


@query(
    "customer_balance_quartiles",
    """
SELECT c_custkey,
       c_mktsegment,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal, c_custkey) AS INT) AS quartile,
       round(cume_dist() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal), 6) AS cdist
FROM customer
""",
)
def q_customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile quartiles + cume_dist per
    market segment (deterministic tie-break on custkey for ntile; ties
    in cume_dist share a value by definition).

    Scale shape: c_mktsegment has 5 values over a customer table that
    GROWS with sf, so the flat per-segment windows would put n/5 rows
    through single tasks — the hot-partition class the plan audit
    polices.  grouped_ntile_cume computes both functions row-identically
    via per-segment value buckets: broadcast quantile bounds, bounded
    within-bucket ranking, offsets cumulated on the segments×buckets
    frame, ntile fill arithmetic and inclusive tie ranks stitched from
    the exact global rank."""
    from depositaja_spark.functions.windows import grouped_ntile_cume

    c = _t(spark, sf_dir, "customer")
    out = grouped_ntile_cume(c, "c_mktsegment", "c_acctbal", "c_custkey", 4)
    return out.select("c_custkey", "c_mktsegment", "quartile", "cdist")


@query(
    "order_price_percentiles",
    """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders
GROUP BY o_orderpriority
""",
)
def q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles per group (`percentile`, the
    sort-based aggregate — both engines use the same
    (1−d)·lower + d·upper continuous interpolation).  Complement of the
    sketch-based `quantile_sketch_values`: exact needs a per-group sort,
    the sketch is one-pass mergeable — the scale trade-off pair."""
    o = _t(spark, sf_dir, "orders")
    pct = F.percentile(F.col("o_totalprice"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        o.groupBy("o_orderpriority")
        .agg(pct.alias("pcts"))
        .select(
            "o_orderpriority",
            F.round(F.element_at("pcts", 1), 4).alias("p50"),
            F.round(F.element_at("pcts", 2), 4).alias("p90"),
            F.round(F.element_at("pcts", 3), 4).alias("p99"),
        )
    )


@query(
    "value_mad_by_type",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(m.med, 4) AS median_value,
       round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
FROM events e JOIN med m ON e.event_type = m.event_type
GROUP BY e.event_type, m.med
""",
)
def q_value_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per event type: exact median + median absolute
    deviation (MAD) — the outlier-resistant (center, spread) pair
    monitoring uses where mean/stddev would be dragged by heavy tails.
    Two grouped exact percentiles: the per-type medians are a ≤|types|-
    row broadcast back onto the scan, then one more grouped percentile
    over the absolute deviations.  Same continuous-interpolation
    convention as order_price_percentiles on both engines."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("m2")
        )
        .select(
            "event_type",
            F.round(F.col("med"), 4).alias("median_value"),
            F.round(F.col("m2"), 4).alias("mad"),
        )
    )


@query(
    "winsorized_value_stats",
    """
WITH ev AS (SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
b AS (
  SELECT event_type, max(n) AS n,
         max(CASE WHEN rn = n // 20 + 1 THEN value END) AS lo,
         max(CASE WHEN rn = n - n // 20 THEN value END) AS hi
  FROM r GROUP BY event_type
),
c AS (
  SELECT e.event_type, b.n, b.lo, b.hi,
         CAST(round(LEAST(GREATEST(e.value, b.lo), b.hi) * 100) AS BIGINT) AS v100
  FROM ev e JOIN b USING (event_type)
),
s AS (
  SELECT event_type, max(n) AS n, max(lo) AS lo, max(hi) AS hi,
         CAST(sum(CAST(v100 AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(sum(CAST(v100 * v100 AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM c GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       lo AS p05_value, hi AS p95_value,
       s1 / (100.0 * n) AS win_mean,
       CASE WHEN n > 1 THEN
         sqrt(GREATEST((s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n)
                       / (n - 1), 0.0))
       END AS win_std
FROM s
""",
)
def q_winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean and stddev per event type — the robust-moment
    companion to value_mad_by_type: clip at the exact p05/p95 ORDER
    STATISTICS (rank k+1 and n−k with k = n div 20, integer arithmetic
    — no float-percentile boundary), then moments over the clipped
    values.  Clipping at data values keeps every clipped value an exact
    2-decimal amount, so the sums ride the scaled-long DECIMAL(38,0)
    fast path (functions/numeric.py) and every downstream double is
    bit-identical across engines and partitionings.

    Scale shape: ranks come from the grouped-bucket decomposition
    (functions/windows.py:grouped_ntile_cume with rank_col — no
    low-cardinality single-task sort over the events table; the oracle
    uses the flat window DuckDB-side, where scale is not a concern),
    the boundary frame is |types| rows broadcast back, and the moment
    aggregation is one keyed pass."""
    from depositaja_spark.functions.windows import grouped_ntile_cume

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ranked = grouped_ntile_cume(
        ev.select("event_type", "event_id", "value"),
        "event_type", "value", "event_id", 4, rank_col="vrank",
    )
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    kb = cnt.select("event_type", "n", F.expr("n div 20").alias("k"))
    bounds = (
        ranked.join(F.broadcast(kb), "event_type")
        .filter((F.col("vrank") == F.col("k") + 1) | (F.col("vrank") == F.col("n") - F.col("k")))
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max(F.when(F.col("vrank") == F.col("k") + 1, F.col("value"))).alias("lo"),
            F.max(F.when(F.col("vrank") == F.col("n") - F.col("k"), F.col("value"))).alias("hi"),
        )
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type", "n", "lo", "hi",
        F.expr("CAST(round(LEAST(GREATEST(value, lo), hi) * 100) AS BIGINT)").alias("v100"),
    )
    s = clipped.groupBy("event_type").agg(
        F.max("n").alias("n"), F.max("lo").alias("lo"), F.max("hi").alias("hi"),
        F.sum(F.col("v100").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("v100") * F.col("v100")).cast("decimal(38,0)")).cast("double").alias("s2"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("lo").alias("p05_value"),
        F.col("hi").alias("p95_value"),
        (F.col("s1") / (F.lit(100.0) * F.col("n"))).alias("win_mean"),
        F.when(
            F.col("n") > 1,
            F.sqrt(
                F.greatest(
                    (
                        F.col("s2") / F.lit(10000.0)
                        - (F.col("s1") / F.lit(100.0)) * (F.col("s1") / F.lit(100.0)) / F.col("n")
                    )
                    / (F.col("n") - 1),
                    F.lit(0.0),
                )
            ),
        ).alias("win_std"),
    )


@query(
    "session_window_stats",
    """
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_unix,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM ids GROUP BY user_id, sid
""",
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session windows (F.session_window, 30-min gap): per-session
    event counts and value sums per user.  Same single shuffle as the
    manual lag/island formulation (`user_sessions`) but state-managed by
    the engine — and the identical expression runs under a watermark in
    Structured Streaming, where the island trick cannot (it needs the
    whole history ordered).  Oracle: gap→island labeling."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(dec("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_unix"),
            "n_events",
            "total_value",
        )
    )


@query(
    "value_props_correlation",
    """
WITH d AS (
  SELECT event_type,
         CAST(value AS DECIMAL(18,2)) AS x,
         CAST(json_extract(props, '$.k') AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM d GROUP BY event_type
)
SELECT event_type,
       n,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       AS corr
FROM s
""",
)
def q_value_props_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Pearson correlation with deterministic arithmetic: the
    five moment sums accumulate in exact DECIMAL (order-independent under
    any partitioning / AQE re-plan), the closed-form combines them in one
    scalar expression at the end.  The built-in F.corr streams doubles and
    is summation-order dependent — unfit for engine-differential testing
    and for replay-stable results; this shape costs the same one shuffle."""
    from depositaja_spark.schemas import EVENT_PROPS

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        dec("value").alias("x"),
        F.from_json("props", EVENT_PROPS).getField("k").alias("y"),
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    return s.select(
        "event_type",
        "n",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr"),
    )


# --- TPC-H Q9 shape: profit by nation × year --------------------------------

_COST = "CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.60 AS DECIMAL(4,2))"


@query(
    "profit_by_nation_year",
    f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum({_EP} * ({_ONE} - {_DISC}) - {_QTY} * ({_COST})) AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
)
def q_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (partsupp-free variant: unit cost = 60% of the
    part's retail price): profit per supplier-nation × order-year over a
    part-name substring filter.

    Plan shape: the p_name LIKE filter prunes the part dimension BEFORE
    its join, so the big lineitem scan is filtered by the join early;
    nation (25 rows at any sf) keeps its forced broadcast, while part and
    supplier scale with sf and carry no hint — AQE broadcasts the
    filtered part side from runtime statistics while it fits.  The one
    real shuffle is lineitem⋈orders followed by the (nation, year)
    aggregation.  Money math is exact DECIMAL end-to-end, cast to double
    only at the end."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    cost = dec("p_retailprice") * F.lit(0.60).cast("decimal(4,2)")
    profit = dec("l_extendedprice") * (one - dec("l_discount")) - dec("l_quantity") * cost
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            profit.alias("p"),
        )
        .groupBy("nation", "o_year")
        .agg(exact_sum(F.col("p")).alias("profit"))
    )


# --- UNPIVOT / melt ----------------------------------------------------------


@query(
    "unpivot_lineitem_measures",
    """
SELECT l_returnflag, measure, round(avg(value), 4) AS avg_value
FROM (
  SELECT l_returnflag, measure, value
  FROM lineitem
  UNPIVOT (value FOR measure IN (l_extendedprice, l_discount, l_tax))
)
GROUP BY 1, 2
""",
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the three lineitem money measures reshaped to
    (measure, value) long form, averaged per return flag — the inverse
    of the pivot query, completing the reshape pair.  Spark's `unpivot`
    is a zero-shuffle Expand (each row fans out to 3), so the only
    exchange is the final aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.round(F.avg("value"), 4).alias("avg_value")
    )


# --- TPC-H Q4 shape: correlated EXISTS --------------------------------------


@query(
    "late_ship_priority_counts",
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY 1
""",
)
def q_late_ship_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one line shipped after the
    order date, counted per priority.  The correlated EXISTS is
    expressed as a LEFT SEMI join, which is also exactly what Catalyst
    rewrites the subquery to — dedup happens inside the join, no
    distinct pass."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# --- TPC-H Q12 shape: conditional aggregation over a join --------------------


@query(
    "shipmode_priority_counts",
    """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY 1
""",
)
def q_shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (returnflag standing in for shipmode, which the
    fixture lacks): late-shipped lines split into high/low priority
    counts with conditional aggregation — one join, one aggregation,
    the CASE folded into the sum so no second pass or pivot."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --- TPC-H Q10 shape: returned-item revenue per customer, top 20 -------------


@query(
    "returned_item_revenue",
    f"""
SELECT c_custkey, c_name, n_name,
       CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    top 20.  The returnflag filter pushes into the lineitem scan; nation
    (fixed 25 rows) keeps its forced broadcast while customer — linear in
    sf — carries no hint and is left to AQE; the ranking is a TakeOrdered
    top-k (no global sort materialization), tie-broken on the unique
    customer key."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue4 = revenue_units4()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum_scaled(revenue4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --- TPC-H Q18 shape: large-volume orders ------------------------------------

_LARGE_ORDER_QTY = 250


@query(
    "large_volume_orders",
    f"""
WITH big AS (
  SELECT l_orderkey, sum({_QTY}) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum({_QTY}) > {_LARGE_ORDER_QTY}
)
SELECT c_custkey, o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
)
def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, joined back to order/customer detail.  The group-then-
    HAVING aggregation is map-side combined.  NO broadcast hint on the
    qualifying-key set: it is HAVING-pruned but keyed by l_orderkey, so
    its cardinality is a fixed FRACTION of an sf-scaling order count —
    tiny at sf0.1, unbounded at 100×.  AQE picks broadcast from runtime
    statistics when it actually fits (asserted at every tested sf);
    tests/test_plan_audit.py now rejects hints whose only bound is an
    aggregate grouped by an sf-scaling key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum(dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > _LARGE_ORDER_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


# --- TPC-H Q14 shape: promo revenue share ------------------------------------


@query(
    "promo_revenue_share",
    f"""
SELECT CAST(round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN {_EP} * ({_ONE} - {_DISC})
                                   ELSE CAST(0 AS DECIMAL(18,2)) END)
             / sum({_EP} * ({_ONE} - {_DISC})), 4) AS DOUBLE) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of revenue from promotional parts in a
    date window — conditional aggregation over a dimension join, the date
    predicate pushed into the lineitem scan.  part grows linearly with
    sf, so no forced broadcast hint; AQE broadcasts it while it fits."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(18,2)")
    rev = dec("l_extendedprice") * (one - dec("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).alias("p"),
            F.sum(rev).alias("t"),
        )
    )
    return agg.select(
        F.round(F.lit(100.0) * F.col("p") / F.col("t"), 4)
        .cast("double")
        .alias("promo_share_pct")
    )


# --- TPC-H Q19 shape: disjunctive-predicate revenue --------------------------


@query(
    "disjunctive_brand_revenue",
    f"""
SELECT CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 50)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
""",
)
def q_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    fact and dimension columns.  The optimizer-relevant property: the
    common-factor conjuncts Catalyst can extract (p_brand IN (...),
    l_quantity range hull) push into BOTH scans before the join, so the
    disjunction is evaluated on pre-filtered rows, not the raw product.
    part scales with sf → no forced broadcast; AQE decides from stats."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    s = F.col("p_size")
    b = F.col("p_brand")
    pred = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 30))
        | ((b == "Brand#3") & s.between(10, 30) & q.between(10, 50))
        | ((b == "Brand#5") & s.between(20, 50) & q.between(20, 40))
    )
    rev4 = revenue_units4()
    return j.filter(pred).agg(
        exact_sum_scaled(rev4).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- TPC-H Q6: single-scan filtered aggregate --------------------------------


@query(
    "forecast_revenue_change",
    f"""
SELECT CAST(sum({_EP} * {_DISC}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue delta if small-quantity discounts were dropped.
    The whole query is one scan + one scalar aggregate: every predicate
    (date range, discount band, quantity cap) pushes into the parquet
    scan as PushedFilters, so at 100 TB only row groups whose min/max
    stats overlap the year survive I/O.  No joins, no shuffle beyond the
    final single-row combine."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(exact_sum(dec("l_extendedprice") * dec("l_discount")).alias("revenue"))


# --- TPC-H Q7: volume shipping between a nation pair -------------------------


@query(
    "nation_pair_volume",
    f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ns ON ns.n_nationkey = s_nationkey
JOIN nation nc ON nc.n_nationkey = c_nationkey
WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
)
def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations, per direction per
    year.  nation is fixed-size (25 rows at any sf) so BOTH nation
    predicates are resolved to key sets driver-side-free via broadcast
    joins and the pair disjunction is applied after; supplier/customer
    scale with sf and carry no hint.  The date predicate pushes into the
    lineitem scan; the only big shuffle is lineitem⋈orders."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    rev4 = revenue_units4()
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(exact_sum_scaled(rev4).alias("revenue"))
    )


# --- TPC-H Q8: market share of one nation in a region ------------------------


@query(
    "nation_market_share",
    f"""
WITH all_nations AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         {_EP} * ({_ONE} - {_DISC}) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation nc ON nc.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = nc.n_regionkey
  JOIN nation ns ON ns.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
)
SELECT o_year,
       CAST(round(CAST(sum(CASE WHEN supp_nation = 'NATION_12' THEN volume
                                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                  / CAST(sum(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
FROM all_nations
GROUP BY o_year
""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_12's share of PROMO-part revenue sold into ASIA,
    per order year.  The p_type filter prunes part before its join and
    the region filter collapses the customer side to 5 of 25 nations —
    both applied pre-join.  nation/region are fixed-size → broadcast;
    part/customer/supplier scale with sf → left to AQE.  Numerator and
    denominator are exact DECIMAL sums, so the final double division is
    bit-identical across engines and partitionings."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nc = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nkey"))
    ns = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    one = F.lit(1).cast("decimal(18,2)")
    vol = dec("l_extendedprice") * (one - dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    base = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"), "left_semi")
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_12", F.col("volume")).otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        )
        .cast("double")
        .alias("mkt_share")
    )


# --- TPC-H Q13: customer order-count distribution ----------------------------


@query(
    "customer_order_distribution",
    """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed exactly k orders, including
    k=0 (the LEFT OUTER join keeps order-less customers; count(col)
    skips their nulls).  Two aggregations: the first shuffles on
    c_custkey (high cardinality, well distributed), the second on
    c_count (tiny domain — but its input is already one row per
    customer, so the hot-key concern is an aggregated frame, not the
    corpus).  No dimension is broadcast-hinted; both sides scale."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- TPC-H Q15: top supplier (ties kept, scalar-max semi join) ---------------


@query(
    "top_supplier_revenue",
    f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
""",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum revenue over a quarter.
    The view is one map-side-combined aggregation over the date-pruned
    lineitem scan; the scalar max is re-aggregated from that SMALL
    per-supplier frame (cost ∝ #suppliers, not #lines) and broadcast
    back as a single-row cross join — no global sort, no second scan of
    lineitem.  Ties are kept, exactly like the spec's WHERE = (SELECT
    max...).  Revenue equality is safe: both sides are the same exact
    DECIMAL sum cast to double."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev4 = revenue_units4()
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum_scaled(rev4).alias("total_revenue")
    )
    best = revenue0.agg(F.max("total_revenue").alias("best_rev"))
    return (
        revenue0.join(F.broadcast(best), F.col("total_revenue") == F.col("best_rev"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- TPC-H Q11 shape (partsupp-free): important supply value -----------------


@query(
    "important_part_value",
    f"""
WITH supply AS (
  SELECT l_partkey,
         sum({_EP} * ({_ONE} - {_DISC})) AS value_dec
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM supply
WHERE CAST(value_dec AS DOUBLE)
      > (SELECT CAST(sum(value_dec) AS DOUBLE) * 0.001 FROM supply)
""",
)
def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem flow standing in for partsupp stock):
    parts whose EUROPE-supplied line value exceeds 0.1% of the total.
    The HAVING-against-a-global-scalar is the optimizer-relevant bit:
    the global total is re-aggregated from the SMALL per-part frame
    (persisted so the subtree isn't executed twice) and broadcast back
    as a one-row join — lineitem is scanned once.  nation/region are
    fixed-size broadcasts; supplier scales → AQE decides."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_supp = supp.join(
        F.broadcast(
            nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        ),
        supp.s_nationkey == F.col("n_nationkey"),
        "left_semi",
    )
    one = F.lit(1).cast("decimal(18,2)")
    val = dec("l_extendedprice") * (one - dec("l_discount"))
    per_part = tracked_persist(
        li.join(euro_supp, li.l_suppkey == euro_supp.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("value_dec"))
    )
    threshold = per_part.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.001)).alias("cutoff")
    )
    return (
        per_part.join(
            F.broadcast(threshold),
            F.col("value_dec").cast("double") > F.col("cutoff"),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_dec").cast("double").alias("part_value"),
        )
    )


# --- TPC-H Q21 shape: suppliers who kept orders waiting ----------------------

_LATE_DAYS = 60


@query(
    "waiting_suppliers",
    f"""
WITH l1 AS (
  SELECT DISTINCT l_suppkey, l_orderkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1 JOIN supplier ON s_suppkey = l_suppkey
WHERE EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    AND l3.l_shipdate > o3.o_orderdate + INTERVAL {_LATE_DAYS} DAY
)
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 10
""",
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (late = shipped >60 days after the order date,
    standing in for the missing receipt/commit dates): suppliers who
    were the SOLE late shipper on finished multi-supplier orders.

    The EXISTS / NOT EXISTS pair is expressed as left-semi and left-anti
    joins against two derived frames keyed on l_orderkey:
      • multi  — orders touched by ≥2 suppliers (distinct-supplier
        count > 1, aggregated, small);
      • late   — distinct (orderkey, suppkey) late pairs.
    "No OTHER supplier late" becomes an anti join of l1 against late
    pairs from a different supplier — Catalyst plans both as single
    hash joins on orderkey, the same physical strategy it would pick
    for the correlated subqueries.  All frames shrink monotonically
    from lineitem; nothing is force-broadcast.  Top-10 is a
    TakeOrdered, tie-broken on s_suppkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    # persisted: both the l1 arm and the other-supplier anti arm read
    # this frame — without the persist the lineitem⋈orders late-pair
    # subtree executes twice
    late = tracked_persist(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_LATE_DAYS} DAY")
        )
        .select("l_suppkey", "l_orderkey")
        .distinct()
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") > 1)
        .select("l_orderkey")
    )
    l1 = late.join(multi, "l_orderkey", "left_semi")
    other_late = late.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("other_supp")
    )
    sole = l1.join(
        other_late,
        (l1.l_orderkey == other_late.o_key) & (l1.l_suppkey != other_late.other_supp),
        "left_anti",
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(10)
    )


# --- TPC-H Q22 shape: wealthy order-less customers per nation ----------------


@query(
    "global_sales_opportunity",
    """
WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cutoff
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON n_nationkey = c_nationkey
WHERE c_acctbal > (SELECT cutoff FROM avg_bal)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
""",
)
def q_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nation standing in for the missing phone
    country code): customers richer than the global positive-balance
    average who never ordered, counted per nation.  The global average
    is exact-sum-over-count (deterministic double), computed in one
    scalar aggregation and broadcast as a one-row join; the NOT EXISTS
    is a left-anti join on o_custkey (Catalyst's own rewrite).  The
    anti join's build side is orders' custkey column only — pruned at
    the scan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    cutoff = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("cutoff")
        )
    )
    return (
        cust.join(F.broadcast(cutoff), F.col("c_acctbal") > F.col("cutoff"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum(dec("c_acctbal")).alias("totacctbal"),
        )
    )


# --- TPC-H Q2 shape (partsupp-free): cheapest supplier per part --------------


@query(
    "min_cost_supplier",
    """
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(l_extendedprice AS DOUBLE) / l_quantity) AS unit_price
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
), small AS (
  SELECT p_partkey, p_brand FROM part WHERE p_size <= 10
), best AS (
  SELECT l_partkey, l_suppkey, unit_price,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY unit_price, l_suppkey) AS rn
  FROM offers JOIN small ON p_partkey = l_partkey
)
SELECT p_partkey, p_brand, s_name AS supplier, n_name AS nation,
       CAST(s_acctbal AS DOUBLE) AS s_acctbal, unit_price
FROM best
JOIN small    ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE rn = 1
ORDER BY s_acctbal DESC, p_partkey
LIMIT 100
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (observed lineitem unit price standing in for the
    missing partsupp supplycost): for each small part, the supplier with
    the lowest observed unit price, ranked by supplier balance.

    Scale shape: the (part, supplier) offer aggregation map-side
    combines before its shuffle; the p_size predicate prunes the part
    dimension and a LEFT SEMI join applies it to offers BEFORE the
    argmin window, so the per-part rank runs over the filtered set
    (window partitions by high-cardinality l_partkey — never a hot
    key).  The double division is IEEE-deterministic on both engines;
    rn tie-breaks on l_suppkey; final order tie-breaks on the unique
    p_partkey; top-100 is a TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("double") / F.col("l_quantity")).alias(
            "unit_price"
        )
    )
    small_offers = offers.join(part, offers.l_partkey == part.p_partkey, "left_semi")
    w = W.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = (
        small_offers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supp, best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_brand",
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "unit_price",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey")
        .limit(100)
    )


# --- TPC-H Q16 shape: supplier counts per part attribute ---------------------


@query(
    "supplier_cnt_by_part_attrs",
    """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def q_supplier_cnt_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem flow standing in for the missing
    partsupp; negative account balance standing in for the complaint
    filter): how many distinct suppliers serve each qualifying
    (brand, type, size).  The NOT IN is a left-anti join against the
    tiny excluded-supplier key set; all part predicates prune the
    dimension BEFORE its join; the distinct count shuffles
    (attrs, suppkey) once with map-side partial dedup."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").startswith("PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --- TPC-H Q20 shape: suppliers with excess recent supply --------------------

_Q20_RATIO = 0.18


@query(
    "excess_supply_suppliers",
    f"""
WITH widget AS (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'),
all_time AS (
  SELECT l_suppkey, sum({_QTY}) AS tot
  FROM lineitem JOIN widget ON p_partkey = l_partkey
  GROUP BY l_suppkey
),
recent AS (
  SELECT l_suppkey, sum({_QTY}) AS q97
  FROM lineitem JOIN widget ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
),
qualified AS (
  SELECT a.l_suppkey
  FROM all_time a JOIN recent r ON a.l_suppkey = r.l_suppkey
  WHERE CAST(q97 AS DOUBLE) > {_Q20_RATIO} * CAST(tot AS DOUBLE)
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM qualified)
  AND s_nationkey IN (
    SELECT n_nationkey FROM nation JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'AFRICA'
  )
""",
)
def q_excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (partsupp-free: a supplier has "excess recent
    supply" when its 1997 shipped quantity of widget parts exceeds
    {_Q20_RATIO:.0%} of its all-time shipped quantity of those parts):
    AFRICA suppliers matching the nested availability condition.

    Both availability aggregates reduce lineitem to supplier-sized
    frames before the ratio compare (exact DECIMAL sums, double-only
    comparison); the two IN subqueries are left-semi joins — the
    qualified key set and the 5-nation region set.  The part-name
    filter prunes the widget key set before both fact joins."""
    li = _t(spark, sf_dir, "lineitem")
    widget = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey"
    )
    wli = li.join(widget, li.l_partkey == widget.p_partkey, "left_semi")
    all_time = wli.groupBy("l_suppkey").agg(F.sum(dec("l_quantity")).alias("tot"))
    recent = (
        wli.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("q97"))
    )
    qualified = (
        all_time.join(recent, "l_suppkey")
        .filter(
            F.col("q97").cast("double") > F.lit(_Q20_RATIO) * F.col("tot").cast("double")
        )
        .select("l_suppkey")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    africa = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(qualified, supp.s_suppkey == qualified.l_suppkey, "left_semi")
        .join(F.broadcast(africa), supp.s_nationkey == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


# --- funnel analysis: ordered multi-stage conversion -------------------------


@query(
    "funnel_conversion",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after_view,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after_click,
       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
             / (SELECT count(*) FROM v), 6) AS view_to_purchase_rate
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that click — the event-sequence pattern
    every product-analytics engine ships (MATCH_RECOGNIZE's most common
    use, expressed as joins Spark can plan).

    Scale shape: each stage is one filtered aggregation producing a
    user-sized frame; the next stage joins the raw scan against THAT
    frame on the high-cardinality user key (no hint — AQE broadcasts
    while it fits, shuffles above).  Event-type predicates push into
    each scan; stage counts are 1-row aggregates combined via a
    literal-free cross join of three single-row frames."""
    events = _t(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_after_view"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click_after_view",
            "n_purchase_after_click",
            F.round(
                F.col("n_purchase_after_click").cast("double") / F.col("n_view"), 6
            ).alias("view_to_purchase_rate"),
        )
    )


# --- cohort retention --------------------------------------------------------

_WEEK_S = 7 * 86400


@query(
    "cohort_retention",
    f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // {_WEEK_S} AS week
  FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
SELECT cohort_week,
       CAST(week - cohort_week AS INT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM uw JOIN cohort ON uw.user_id = cohort.user_id
GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week, and
    for each later week the count still active — the other half of the
    product-analytics pair (funnel = within-journey, cohort = across
    weeks).

    Scale shape: the distinct (user, week) frame is one map-side-
    partially-deduped shuffle; the cohort frame is an aggregation of
    THAT frame (no second scan); their join is user-keyed
    (high-cardinality) and the final (cohort, offset) aggregation is
    over the already-reduced frame.  The epoch-week bucketing is plain
    integer math, identical on both engines."""
    events = _t(spark, sf_dir, "events")
    week = F.floor(F.col("ts").cast("long") / _WEEK_S).cast("long")
    uw = events.select("user_id", week.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- data-quality audit: referential integrity -------------------------------


@query(
    "referential_integrity_report",
    """
SELECT 'orders_orphan_custkey' AS check_name,
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
         AS violations
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_orphan_partkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_orphan_suppkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
UNION ALL
SELECT 'customer_duplicate_pk',
       CAST((SELECT count(*) FROM (
          SELECT c_custkey FROM customer GROUP BY c_custkey
          HAVING count(*) > 1)) AS BIGINT)
UNION ALL
SELECT 'orders_null_custkey',
       CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
""",
)
def q_referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style data-quality audit in one job: orphan foreign keys
    (left-anti join counts — the NOT EXISTS physical form), duplicate
    primary keys (HAVING over a keyed count), and null keys, one row
    per check.  Each check is a single keyed anti-join or aggregation
    over pruned key columns (only the key is read from each scan), so
    the whole audit costs a handful of key-column shuffles at any
    scale — this is the validation pass a pipeline runs before
    publishing a snapshot."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    checks = [
        cnt(
            orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti"),
            "orders_orphan_custkey",
        ),
        cnt(
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
            "lineitem_orphan_orderkey",
        ),
        cnt(
            li.join(part, li.l_partkey == part.p_partkey, "left_anti"),
            "lineitem_orphan_partkey",
        ),
        cnt(
            li.join(supp, li.l_suppkey == supp.s_suppkey, "left_anti"),
            "lineitem_orphan_suppkey",
        ),
        cnt(
            cust.groupBy("c_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
            "customer_duplicate_pk",
        ),
        cnt(orders.filter(F.col("o_custkey").isNull()), "orders_null_custkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --- behavioral analytics: event transition matrix ---------------------------


@query(
    "event_transition_matrix",
    """
SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user — the behavioral-model input (next-action
    prediction, anomaly baselining).  One lag() window partitioned by
    the high-cardinality user key with a deterministic (ts, event_id)
    order, then a tiny (type × type) aggregation."""
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_TRIGRAM_TOPK = 20


@query(
    "event_path_trigrams",
    f"""
WITH lagged AS (
  SELECT event_type AS t3,
         lag(event_type, 1) OVER w AS t2,
         lag(event_type, 2) OVER w AS t1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY count(*) DESC, t1, t2, t3) AS INT)
         AS rank
FROM lagged
WHERE t1 IS NOT NULL
GROUP BY 1, 2, 3
QUALIFY rank <= {_TRIGRAM_TOPK}
""",
)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common 3-step behavior paths across all
    users — the sequence-mining extension of the first-order transition
    matrix (second-order context is where funnels and loops become
    visible).  Two lag() taps on one user-keyed window, a (type³)-
    bounded aggregation, then a global top-k with a full deterministic
    tie-break so the cutoff is engine-independent."""
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = events.select(
        F.col("event_type").alias("t3"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.lag("event_type", 2).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    counts = lagged.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("n"))
    wr = W.orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"), F.asc("t3"))
    return (
        counts.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _TRIGRAM_TOPK)
        .select("t1", "t2", "t3", "n", F.col("rank").cast("int").alias("rank"))
    )


# --- customer value segmentation: RFM ---------------------------------------


@query(
    "rfm_segments",
    """
WITH base AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS INT) AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_quartile
FROM base
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation — the
    standard customer-value model.  The customer frame SCALES with sf,
    so a flat global ntile window (one task sorts every customer) is
    exactly the bug class the plan audit exists for; each quartile is
    instead computed with ``distributed_ntile`` — value-bucketed
    two-level ranking, row-identical to
    ``ntile(4) OVER (ORDER BY metric DESC, o_custkey)`` (the oracle's
    formulation) with no global sort.  The money measure is an exact
    DECIMAL sum; every order has a unique custkey tie-break."""
    from depositaja_spark.functions.cache import tracked_persist
    from depositaja_spark.functions.windows import distributed_ntile

    orders = _t(spark, sf_dir, "orders")
    base = tracked_persist(
        orders.groupBy("o_custkey").agg(
            F.max("o_orderdate").cast("long").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            exact_sum(dec("o_totalprice")).alias("monetary"),
        )
    )
    n = base.count()
    out = distributed_ntile(base, "last_order", "o_custkey", 4, n, "r_quartile")
    out = distributed_ntile(out, "frequency", "o_custkey", 4, n, "f_quartile")
    out = distributed_ntile(out, "monetary", "o_custkey", 4, n, "m_quartile")
    return out.select("o_custkey", "r_quartile", "f_quartile", "m_quartile")


@query(
    "revenue_gini_by_nation",
    """
WITH rev AS (
  SELECT c.c_custkey, n.n_name AS nation,
         coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))),
                  CAST(0 AS DECIMAL(18,2))) AS rev
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nation, rev,
         row_number() OVER (PARTITION BY nation
                            ORDER BY CAST(rev AS DOUBLE), c_custkey) AS r,
         count(*) OVER (PARTITION BY nation) AS n
  FROM rev
)
SELECT nation,
       CASE WHEN sum(rev) = 0 THEN NULL ELSE
         round((2.0 * CAST(sum(r * rev) AS DOUBLE)
                - (max(n) + 1.0) * CAST(sum(rev) AS DOUBLE))
               / (max(n) * CAST(sum(rev) AS DOUBLE)), 6) END AS gini
FROM ranked GROUP BY nation
""",
)
def q_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation as the exact Gini coefficient
    over per-customer revenue (customers with no orders count at 0) —
    the market-concentration number behind "do 20% of customers drive
    80% of revenue?".

    Gini needs each customer's RANK within its nation — the classic
    single-task-window trap on a low-cardinality partition key — so
    ranks come from the exact grouped decomposition
    (functions/windows.py:grouped_ntile_cume with rank_col): per-group
    value buckets, cumulated counts, bounded within-bucket ranking.
    Σ r·x and Σ x accumulate in exact DECIMAL (rank ties carry equal x,
    so the tie-broken rank never changes the sum) and only the final
    Gini ratio is float — bit-stable at any partitioning."""
    from depositaja_spark.functions.windows import grouped_ntile_cume

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    rev = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey", F.col("n_name").alias("nation"))
        .agg(
            F.coalesce(
                F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)")
            ).alias("rev")
        )
    )
    ranked = grouped_ntile_cume(
        rev, "nation", "rev", "c_custkey", 4, rank_col="r"
    )
    agg = ranked.groupBy("nation").agg(
        F.sum(F.col("r") * F.col("rev")).alias("srx"),
        F.sum("rev").alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    gini = (
        2.0 * F.col("srx").cast("double")
        - (F.col("n") + 1.0) * F.col("sx").cast("double")
    ) / (F.col("n") * F.col("sx").cast("double"))
    return agg.select(
        "nation",
        F.when(F.col("sx") == 0, F.lit(None))
        .otherwise(F.round(gini, 6))
        .alias("gini"),
    )


@query(
    "revenue_lorenz_curve",
    """
WITH rev AS (
  SELECT c.c_custkey, n.n_name AS nation,
         coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))),
                  CAST(0 AS DECIMAL(18,2))) AS rev
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
tiled AS (
  SELECT nation, rev,
         ntile(10) OVER (PARTITION BY nation
                         ORDER BY CAST(rev AS DOUBLE), c_custkey) AS tile
  FROM rev
),
per_tile AS (
  SELECT nation, tile, count(*) AS cnt, sum(rev) AS trev
  FROM tiled GROUP BY 1, 2
),
cum AS (
  SELECT nation, tile,
         sum(cnt) OVER w AS ccnt, sum(trev) OVER w AS crev,
         sum(cnt) OVER (PARTITION BY nation) AS n,
         sum(trev) OVER (PARTITION BY nation) AS tot
  FROM per_tile
  WINDOW w AS (PARTITION BY nation ORDER BY tile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT nation, CAST(tile AS INT) AS tile,
       round(CAST(ccnt AS DOUBLE) / n, 6) AS cum_cust_share,
       CASE WHEN tot = 0 THEN NULL ELSE
         round(CAST(crev AS DOUBLE) / CAST(tot AS DOUBLE), 6) END
         AS cum_rev_share
FROM cum
""",
)
def q_revenue_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve per nation — the concentration curve the Gini
    coefficient summarizes: for each revenue decile (customers ordered
    poorest-first), the cumulative customer share against the
    cumulative revenue share.  The "20% of customers drive 80% of
    revenue" chart, point by point.

    Same exact-rank machinery as revenue_gini_by_nation (grouped value
    buckets, no low-cardinality single-task window over customers);
    after the decile assignment everything runs on the
    nations×10-bounded tile grid — the cumulative windows order ≤10
    rows per nation.  Per-tile revenue sums stay in exact DECIMAL until
    the two final share divisions."""
    from depositaja_spark.functions.windows import grouped_ntile_cume

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    rev = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey", F.col("n_name").alias("nation"))
        .agg(
            F.coalesce(
                F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)")
            ).alias("rev")
        )
    )
    tiled = grouped_ntile_cume(rev, "nation", "rev", "c_custkey", 10, tile_col="tile")
    per_tile = tiled.groupBy("nation", "tile").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("rev").alias("trev")
    )
    wc = (
        W.partitionBy("nation")
        .orderBy("tile")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = W.partitionBy("nation")
    cum = per_tile.select(
        "nation",
        F.col("tile").cast("int").alias("tile"),
        F.sum("cnt").over(wc).alias("ccnt"),
        F.sum("trev").over(wc).alias("crev"),
        F.sum("cnt").over(wn).alias("n"),
        F.sum("trev").over(wn).alias("tot"),
    )
    return cum.select(
        "nation",
        "tile",
        F.round(F.col("ccnt").cast("double") / F.col("n"), 6).alias(
            "cum_cust_share"
        ),
        F.when(F.col("tot") == 0, F.lit(None))
        .otherwise(
            F.round(F.col("crev").cast("double") / F.col("tot").cast("double"), 6)
        )
        .alias("cum_rev_share"),
    )


# --- market-basket affinity: part co-occurrence ------------------------------

_BASKET_MIN_SUPPORT = 3


def _basket_pairs_sql() -> str:
    from depositaja_spark.functions.mining import MINING_MAX_BASKET

    return f"""
WITH li0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
kept AS (SELECT ok FROM li0 GROUP BY ok HAVING count(*) <= {MINING_MAX_BASKET}),
li2 AS (SELECT li0.* FROM li0 JOIN kept USING (ok))
SELECT a.p AS part_a, b.p AS part_b,
       CAST(count(*) AS BIGINT) AS support
FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p
GROUP BY 1, 2
HAVING count(*) >= {_BASKET_MIN_SUPPORT}
"""


@query("basket_part_pairs", _basket_pairs_sql())
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts co-ordered in ≥
    {_BASKET_MIN_SUPPORT} orders.  The self-join is ORDER-KEYED and
    HOT-BASKET CAPPED (``cap_baskets`` before pairing, mirrored in the
    oracle's ``kept`` CTE) — per-order pair fan-out is ≤ cap² by
    construction, never lines² of an adversarial crawler-shaped order;
    the a<b predicate halves it and dedups.  Support counts kept
    baskets with map-side partial aggregation.  This is the
    candidate-generation step of any association-rule / co-purchase
    model at scale."""
    from depositaja_spark.functions.mining import cap_baskets

    li = _t(spark, sf_dir, "lineitem")
    d = cap_baskets(
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
        ).distinct()
    )
    a = d.select("ok", F.col("p").alias("part_a"))
    b = d.select("ok", F.col("p").alias("part_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )


@query(
    "part_price_size_skyline",
    """
SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS INT) AS p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
)
""",
)
def q_part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline: parts on the (cheapest, smallest) Pareto frontier —
    the "best tradeoffs" OLAP operator.  The oracle runs the quadratic
    NOT EXISTS self-join definition; the engine runs the two-phase
    distributed skyline (functions/skyline.py): per-partition numpy
    lexsort + cummin kernel, then one global pass over the tiny
    survivor union, then a coordinate semi-join back — no cartesian
    anywhere, dominance transitivity guarantees equality."""
    from depositaja_spark.functions.skyline import skyline_2d

    part = _t(spark, sf_dir, "part")
    sky = skyline_2d(part, "p_retailprice", "p_size")
    return sky.select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("int").alias("p_size")
    )


_TRIPLE_MIN_SUPPORT = 2


def _triples_sql() -> str:
    from depositaja_spark.functions.mining import MINING_MAX_BASKET

    return f"""
WITH li0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
kept AS (SELECT ok FROM li0 GROUP BY ok HAVING count(*) <= {MINING_MAX_BASKET}),
li2 AS (SELECT li0.* FROM li0 JOIN kept USING (ok))
SELECT a.p AS part_a, b.p AS part_b, c.p AS part_c,
       CAST(count(*) AS BIGINT) AS support
FROM li2 a
JOIN li2 b ON a.ok = b.ok AND a.p < b.p
JOIN li2 c ON b.ok = c.ok AND b.p < c.p
GROUP BY 1, 2, 3
HAVING count(*) >= {_TRIPLE_MIN_SUPPORT}
"""


@query("basket_part_triples", _triples_sql())
def q_basket_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori level-3 frequent itemsets: part triples co-ordered in ≥
    2 orders.  The Spark plan implements the A-PRIORI PRUNE the oracle
    doesn't need — support monotonicity guarantees the pruned plan's
    answer equals the clean brute count (the oracle).  The shared plan
    lives in ``functions/mining.py:frequent_triples`` (hot-basket cap
    MINING_MAX_BASKET first — mirrored in the oracle's ``kept`` CTE —
    then the basket-pair join built ONCE and persisted, all three faces
    semi-joined before the support count); tests/test_mining.py runs
    the SAME function against a pure-Python brute force on adversarial
    baskets, including a planted 1000-line basket."""
    from depositaja_spark.functions.mining import frequent_triples

    li = _t(spark, sf_dir, "lineitem")
    li2 = tracked_persist(
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")).distinct()
    )
    return frequent_triples(li2, _TRIPLE_MIN_SUPPORT)


_ITEMSIM_MIN_CO = 2
_ITEMSIM_K = 3


def _itemsim_sql() -> str:
    from depositaja_spark.functions.mining import MINING_MAX_BASKET

    return f"""
WITH li0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
keptok AS (SELECT ok FROM li0 GROUP BY ok HAVING count(*) <= {MINING_MAX_BASKET}),
li2 AS (SELECT li0.* FROM li0 JOIN keptok USING (ok)),
deg AS (
  SELECT p AS part, CAST(count(*) AS BIGINT) AS n FROM li2 GROUP BY 1
),
co AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS co
  FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2
  HAVING count(*) >= {_ITEMSIM_MIN_CO}
),
sym AS (
  SELECT pa AS part, pb AS other, co FROM co
  UNION ALL
  SELECT pb, pa, co FROM co
),
scored AS (
  SELECT s.part, s.other,
         round(CAST(s.co AS DOUBLE) / sqrt(da.n * db.n), 6) AS sim
  FROM sym s
  JOIN deg da ON da.part = s.part
  JOIN deg db ON db.part = s.other
)
SELECT part, other, sim,
       CAST(row_number() OVER (PARTITION BY part
                               ORDER BY sim DESC, other) AS INT) AS rank
FROM scored
QUALIFY rank <= {_ITEMSIM_K}
"""


@query("item_similarity_topk", _itemsim_sql())
def q_item_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity over binary
    basket-occurrence vectors — sim(a,b) = |orders with both| /
    √(|orders with a|·|orders with b|) — then each part's top-3
    neighbours (min co-occurrence {_ITEMSIM_MIN_CO} prunes
    support-1 noise).  The classic "customers also bought" model.

    Scale shape: distinct (order, part) rows first (duplicate lines
    collapse BEFORE the join), then the MINING_MAX_BASKET hot-basket
    cap — mirrored in the oracle's ``keptok`` CTE — so the order-keyed
    pair join's per-key fan-out is ≤ cap² even on a crawler's
    10^5-line "order" (the fixture's baskets are ≤7 lines, the TPC-H
    generator's bound, so the fixture answer is cap-invariant);
    degrees are one keyed agg; the top-k window partitions by part.
    The shared plan lives in ``functions/mining.py:item_similarity_topk``;
    tests/test_mining.py runs the SAME function against a pure-Python
    brute force, including a planted 1000-line basket."""
    from depositaja_spark.functions.mining import item_similarity_topk

    li = _t(spark, sf_dir, "lineitem")
    li2 = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    return item_similarity_topk(li2, _ITEMSIM_K, _ITEMSIM_MIN_CO)


_RULE_MIN_SUPPORT = 2
_RULE_MIN_CONF_PCT = 6  # confidence ≥ 0.06, enforced as 100·supp(ab) ≥ 6·supp(a)


def _assoc_sql() -> str:
    from depositaja_spark.functions.mining import MINING_MAX_BASKET

    return f"""
WITH li0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
keptok AS (SELECT ok FROM li0 GROUP BY ok HAVING count(*) <= {MINING_MAX_BASKET}),
li2 AS (SELECT li0.* FROM li0 JOIN keptok USING (ok)),
nbt AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS nb FROM li2),
item AS (SELECT p AS item, CAST(count(*) AS BIGINT) AS supp_item FROM li2 GROUP BY 1),
co AS (SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS supp_ab
       FROM li2 a JOIN li2 b ON a.ok = b.ok AND a.p < b.p
       GROUP BY 1, 2
       HAVING count(*) >= {_RULE_MIN_SUPPORT}),
rules AS (SELECT pa AS antecedent, pb AS consequent, supp_ab FROM co
          UNION ALL
          SELECT pb, pa, supp_ab FROM co)
SELECT r.antecedent, r.consequent, r.supp_ab AS support,
       CAST(r.supp_ab AS DOUBLE) / ia.supp_item AS confidence,
       (CAST(r.supp_ab AS DOUBLE) * nbt.nb) / (ia.supp_item * ib.supp_item) AS lift,
       CAST(r.supp_ab AS DOUBLE) / nbt.nb
         - (CAST(ia.supp_item AS DOUBLE) * ib.supp_item)
           / (CAST(nbt.nb AS DOUBLE) * nbt.nb) AS leverage
FROM rules r
JOIN item ia ON ia.item = r.antecedent
JOIN item ib ON ib.item = r.consequent
CROSS JOIN nbt
WHERE 100 * r.supp_ab >= {_RULE_MIN_CONF_PCT} * ia.supp_item
"""


@query("assoc_rules_lift", _assoc_sql())
def q_assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a → b with confidence, lift, and leverage —
    the scoring layer on top of the pair-mining candidates (the model
    behind "frequently bought together" ranking, where lift > 1
    separates real association from popularity coincidence).

    Scale shape (functions/mining.py:association_rules): distinct
    (order, part) rows, the MINING_MAX_BASKET hot-basket cap —
    mirrored in the oracle's ``keptok`` CTE, with N counting only kept
    baskets so every probability is exact over the joined population —
    then ONE capped pair self-join, an |items|-sized support agg
    equi-joined twice, and a 1-row N frame broadcast by cross join.
    The confidence threshold is an integer cross-multiplication (no
    float compare); the measures ship RAW doubles with one fixed op
    order on both engines."""
    from depositaja_spark.functions.mining import association_rules

    li = _t(spark, sf_dir, "lineitem")
    li2 = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    return association_rules(li2, _RULE_MIN_SUPPORT, _RULE_MIN_CONF_PCT)


# --- Z-order layout keys ------------------------------------------------------

def _zorder_sql() -> str:
    from depositaja_spark.functions.zorder import ZORDER_BITS, interleave_bits_sql

    z = interleave_bits_sql(
        ["o_custkey % 65536", "CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 % 65536"],
        ZORDER_BITS,
    )
    return f"SELECT o_orderkey, {z} AS zval FROM orders"


@query("zorder_layout_keys", _zorder_sql())
def q_zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (customer, order-day) —
    the multi-dimensional data-skipping layout (functions/zorder.py):
    files sorted by this key keep BOTH dimensions' min/max ranges
    narrow, so footer stats prune either predicate without a second
    copy of the table.  Pure scan-local bit math, zero shuffles; the
    layout write itself (write_zordered: range exchange + local sort)
    is exercised with real parquet footers in tests/test_zorder.py."""
    from depositaja_spark.functions.zorder import zorder_key

    orders = _t(spark, sf_dir, "orders")
    return zorder_key(
        orders,
        [
            F.col("o_custkey") % 65536,
            F.floor(F.col("o_orderdate").cast("long") / 86400).cast("long") % 65536,
        ],
    ).select("o_orderkey", "zval")


# --- exact-moment linear regression -------------------------------------------

_REGR_SQL = """
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(hour(ts)) AS BIGINT) AS sx,
         CAST(sum(hour(ts) * hour(ts)) AS BIGINT) AS sxx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy100,
         CAST(sum(hour(ts) * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxy100
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
         round(CAST(n * sxy100 - sx * sy100 AS DOUBLE)
               / (CAST(n * sxx - sx * sx AS DOUBLE) * 100), 6) END AS slope,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
         round(CAST(sy100 AS DOUBLE) / (100 * n)
               - (CAST(n * sxy100 - sx * sy100 AS DOUBLE)
                  / (CAST(n * sxx - sx * sx AS DOUBLE) * 100))
                 * (CAST(sx AS DOUBLE) / n), 6) END AS intercept
FROM m
"""


@query("value_hour_regression", _REGR_SQL)
def q_value_hour_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares regression of value on hour-of-day,
    computed from EXACT integer moments (n, Σx, Σx², Σy·100, Σxy·100) —
    one map-side-combined aggregation pass, then the closed-form
    slope/intercept in double arithmetic over exact integers.  The
    float-free moment accumulation is what makes a distributed
    regression deterministic: double moment sums are summation-order
    dependent (AQE repartitions change results run-to-run), exact
    integer moments are not.  At production group sizes the long moments
    would accumulate in DECIMAL(38,0) exactly like exact_sum_scaled —
    the fixture's moments sit far inside long range."""
    ev = _t(spark, sf_dir, "events")
    m = (
        ev.select(
            "event_type",
            F.hour("ts").cast("long").alias("x"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("y100"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.expr("x * x")).alias("sxx"),
            F.sum("y100").alias("sy100"),
            F.sum(F.expr("x * y100")).alias("sxy100"),
        )
    )
    num = (F.col("n") * F.col("sxy100") - F.col("sx") * F.col("sy100")).cast("double")
    den_l = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den = den_l.cast("double") * 100
    slope = num / den
    intercept = (
        F.col("sy100").cast("double") / (100 * F.col("n"))
        - slope * (F.col("sx").cast("double") / F.col("n"))
    )
    # zero-variance guard: a group whose events all land in one hour has
    # den = 0, where Spark (non-ANSI) yields NULL but DuckDB (IEEE float
    # default) yields ±inf/nan — both sides pin the degenerate fit to
    # NULL explicitly so engine and oracle agree on the edge
    degenerate = den_l == 0
    return m.select(
        "event_type",
        "n",
        F.when(degenerate, F.lit(None)).otherwise(F.round(slope, 6)).alias("slope"),
        F.when(degenerate, F.lit(None)).otherwise(F.round(intercept, 6)).alias("intercept"),
    )


# --- one-pass column profiler -------------------------------------------------

#: (column, kind) profile targets over orders — numeric/timestamp columns
#: report min/max as doubles (epoch seconds for timestamps), strings as
#: strings; all report null count + exact distinct count
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
]


def _profile_sql() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"round(CAST(min({c}) AS DOUBLE), 4)", f"round(CAST(max({c}) AS DOUBLE), 4)"
            ms = mxs = "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            mn = f"round(CAST(floor(epoch(min({c}))) AS DOUBLE), 4)"
            mx = f"round(CAST(floor(epoch(max({c}))) AS DOUBLE), 4)"
            ms = mxs = "CAST(NULL AS VARCHAR)"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms, mxs = f"min({c})", f"max({c})"
        parts.append(
            f"SELECT '{c}' AS column_name,\n"
            f"       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,\n"
            f"       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"       {mn} AS min_num, {mx} AS max_num,\n"
            f"       {ms} AS min_str, {mxs} AS max_str\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


@query("orders_profile", _profile_sql())
def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deequ/dbt-style column profile of the orders table — null count,
    exact distinct count, min/max per column — in ONE scan: all
    per-column aggregates run in a single groupBy().agg() (Spark plans
    the multi-distinct via Expand — one pass over the data, ×K rows
    map-side where K = distinct-agg count, still one shuffle of partial
    states).  At 100 TB the exact count(DISTINCT) columns would switch
    to approx_count_distinct (the profile is diagnostic); the fixture
    pins the exact variant against the oracle."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c, kind in _PROFILE_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}"))
        if kind == "num":
            aggs.append(F.round(F.min(c).cast("double"), 4).alias(f"mn_{c}"))
            aggs.append(F.round(F.max(c).cast("double"), 4).alias(f"mx_{c}"))
        elif kind == "ts":
            aggs.append(
                F.round(F.floor(F.min(c).cast("long")).cast("double"), 4).alias(f"mn_{c}")
            )
            aggs.append(
                F.round(F.floor(F.max(c).cast("long")).cast("double"), 4).alias(f"mx_{c}")
            )
        else:
            aggs.append(F.min(c).alias(f"mn_{c}"))
            aggs.append(F.max(c).alias(f"mx_{c}"))
    wide = o.agg(*aggs)
    rows = []
    for c, kind in _PROFILE_COLS:
        if kind == "str":
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, mxs = f"mn_{c}", f"mx_{c}"
        else:
            mn, mx = f"mn_{c}", f"mx_{c}"
            ms, mxs = "CAST(NULL AS STRING)", "CAST(NULL AS STRING)"
        rows.append(
            f"struct('{c}' AS column_name, nn_{c} AS n_nulls, nd_{c} AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, {ms} AS min_str, {mxs} AS max_str)"
        )
    return wide.select(
        F.explode(F.expr("array(" + ", ".join(rows) + ")")).alias("p")
    ).select("p.*")


# --- two-sample inference (experimentation surface) ---------------------------

_TTEST_SQL = """
WITH s AS (
  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS s1,
         sum(CASE WHEN event_type = 'purchase' THEN value * value ELSE 0 END) AS q1,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS s2,
         sum(CASE WHEN event_type = 'click' THEN value * value ELSE 0 END) AS q2
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
),
d AS (
  SELECT n1, n2,
         s1 / n1 - s2 / n2 AS mean_diff,
         (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS se1,
         (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2
  FROM s
)
SELECT CAST(n1 AS BIGINT) AS n_purchase,
       CAST(n2 AS BIGINT) AS n_click,
       round(mean_diff, 6) AS mean_diff,
       round(mean_diff / sqrt(se1 + se2), 6) AS t_stat,
       round((se1 + se2) * (se1 + se2)
             / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 4) AS dof
FROM d
"""


@query("purchase_click_ttest", _TTEST_SQL)
def q_purchase_click_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test on event values, purchase vs click —
    the unequal-variance experimentation primitive (A/B readouts, data-
    slice comparisons) as ONE scan-local aggregation: conditional count
    / Σx / Σx² per arm, then closed-form t statistic and Welch–
    Satterthwaite degrees of freedom.  No joins, no shuffle beyond the
    single global agg (map-side combined); the closed form is what makes
    it run at 100 TB — the resampling alternative is the already-
    registered bootstrap_value_ci.  Both engines share the identical
    (Σx² − (Σx)²/n)/(n−1) moment arithmetic."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click") & F.col("value").isNotNull()
    )
    is_p = F.col("event_type") == "purchase"
    v = F.col("value")
    s = ev.agg(
        F.sum(F.when(is_p, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(is_p, v).otherwise(0.0)).alias("s1"),
        F.sum(F.when(is_p, v * v).otherwise(0.0)).alias("q1"),
        F.sum(F.when(~is_p, 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(~is_p, v).otherwise(0.0)).alias("s2"),
        F.sum(F.when(~is_p, v * v).otherwise(0.0)).alias("q2"),
    )
    d = s.select(
        "n1",
        "n2",
        (F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")).alias("mean_diff"),
        ((F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1) / F.col("n1")).alias("se1"),
        ((F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (F.col("n2") - 1) / F.col("n2")).alias("se2"),
    )
    se = F.col("se1") + F.col("se2")
    return d.select(
        F.col("n1").cast("long").alias("n_purchase"),
        F.col("n2").cast("long").alias("n_click"),
        F.round("mean_diff", 6).alias("mean_diff"),
        F.round(F.col("mean_diff") / F.sqrt(se), 6).alias("t_stat"),
        F.round(
            se * se
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            ),
            4,
        ).alias("dof"),
    )


# --- skew engineering: salted join / salted aggregation ------------------------

_SALT_BUCKETS = 8


@query(
    "salted_nation_revenue",
    """
SELECT n_name,
       CAST(sum(o_totalprice) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY 1
""",
)
def q_salted_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue per customer nation computed through the SALTED
    join (functions/skew.py:salted_join): the fact side takes a random
    salt in [0, 8), the dimension is replicated once per bucket,
    and the join runs on (custkey, salt) — the classic hot-key spreader
    for when one key dominates AND the dim side is too big to broadcast
    AND the layout is pre-bucketed so AQE's skew split can't re-plan.
    The ORACLE is the plain unsalted join: salting is a physical
    transform with identical relational semantics, and this query makes
    the driver prove that equivalence on every run (the property test
    in tests/test_skew.py proves it on adversarial skew).  Revenue
    accumulates in DECIMAL — exact under any salt routing — so the
    equality is bit-level, not approximate."""
    from depositaja_spark.functions.skew import salted_join

    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation")
    j = salted_join(fact, dim, "custkey", buckets=_SALT_BUCKETS)
    return (
        j.join(F.broadcast(nation), j.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("o_totalprice").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "salted_user_value_sum",
    """
SELECT user_id,
       round(sum(value), 4) AS total_value,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE value IS NOT NULL
GROUP BY 1
""",
)
def q_salted_user_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value totals via the SALTED two-phase aggregation
    (functions/skew.py:salted_sum): groupBy(user, salt) first so a viral
    user's rows spread over 8 tasks, then one tiny re-combine
    keyed by user.  The oracle is the plain GROUP BY — salting a keyed
    SUM is semantics-preserving because sum is associative, and the
    driver proves that equality per run.  The count rides the same
    salted partial (one extra associative aggregate, zero extra
    shuffles) — the salted_sum pattern widened to multiple aggregates,
    which is why the plan is inlined here rather than calling the
    single-aggregate library helper."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "value")
    )
    salt = (F.rand(seed=0) * _SALT_BUCKETS).cast("int")
    partial = (
        ev.withColumn("__salt", salt)
        .groupBy("user_id", "__salt")
        .agg(F.sum("value").alias("pv"), F.count(F.lit(1)).alias("pn"))
    )
    return partial.groupBy("user_id").agg(
        F.round(F.sum("pv"), 4).alias("total_value"),
        F.sum("pn").alias("n_events"),
    )


@query(
    "benford_price_audit",
    """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), c AS (
  SELECT digit, count(*) AS observed FROM d GROUP BY digit
), t AS (
  SELECT CAST(sum(observed) AS DOUBLE) AS total FROM c
), e AS (
  SELECT c.digit, c.observed, t.total,
         CAST(CASE c.digit
           WHEN 1 THEN 0.3010299956639812
           WHEN 2 THEN 0.17609125905568124
           WHEN 3 THEN 0.12493873660829992
           WHEN 4 THEN 0.09691001300805642
           WHEN 5 THEN 0.07918124604762482
           WHEN 6 THEN 0.06694678963061322
           WHEN 7 THEN 0.05799194697768673
           WHEN 8 THEN 0.05115252244738129
           WHEN 9 THEN 0.04575749056067514
         END AS DOUBLE) AS expected
  FROM c, t
), g AS (
  SELECT digit, observed, expected,
         CAST(observed AS DOUBLE) / total AS share,
         expected * total AS exp_n,
         CAST(observed AS DOUBLE) AS obs_d
  FROM e
)
SELECT digit, observed, share, expected,
       ((obs_d - exp_n) * (obs_d - exp_n)) / exp_n AS chi2_term
FROM g
""",
)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data / corruption screen for any money column.  The
    leading digit is extracted EXACTLY (decimal×100 → integral BIGINT →
    first character): never via log10/floor, whose 1-ulp libm
    differences flip the digit at powers of ten across engines.
    Expected shares are pinned 17-digit literals shared by both engines
    (log10 itself is NOT cross-engine bit-stable), and the χ² terms are
    a fixed-op-order expression over exact counts.  One keyed agg over
    orders into a 9-row frame; the total is a 1-row broadcast scalar.
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .cast("string"),
        1,
        1,
    ).cast("int")
    c = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("observed")
    )
    t = c.agg(F.sum("observed").cast("double").alias("total"))
    _BENFORD = {
        1: 0.3010299956639812,
        2: 0.17609125905568124,
        3: 0.12493873660829992,
        4: 0.09691001300805642,
        5: 0.07918124604762482,
        6: 0.06694678963061322,
        7: 0.05799194697768673,
        8: 0.05115252244738129,
        9: 0.04575749056067514,
    }
    expected = F.lit(None).cast("double")
    for dgt, p in _BENFORD.items():
        expected = F.when(F.col("digit") == dgt, F.lit(p)).otherwise(expected)
    # 1-row broadcast scalar join (CARTESIAN_OK): the aggregate total.
    g = (
        c.crossJoin(F.broadcast(t))
        .withColumn("expected", expected)
        .withColumn("share", F.col("observed").cast("double") / F.col("total"))
        .withColumn("exp_n", F.col("expected") * F.col("total"))
        .withColumn("obs_d", F.col("observed").cast("double"))
    )
    return g.select(
        "digit",
        "observed",
        "share",
        "expected",
        (
            ((F.col("obs_d") - F.col("exp_n")) * (F.col("obs_d") - F.col("exp_n")))
            / F.col("exp_n")
        ).alias("chi2_term"),
    )


@query(
    "ks_test_value_dist",
    """
WITH arms AS (
  SELECT CAST(value AS DECIMAL(18,2)) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
), hist AS (
  SELECT v, CAST(sum(p) AS BIGINT) AS c1,
         CAST(count(*) - sum(p) AS BIGINT) AS c2
  FROM arms GROUP BY v
), cum AS (
  SELECT v,
         sum(c1) OVER (ORDER BY v) AS k1,
         sum(c2) OVER (ORDER BY v) AS k2
  FROM hist
), tot AS (
  SELECT CAST(sum(p) AS BIGINT) AS n1,
         CAST(count(*) - sum(p) AS BIGINT) AS n2
  FROM arms
), gap AS (
  SELECT v, n1, n2,
         abs(CAST(k1 AS HUGEINT) * n2 - CAST(k2 AS HUGEINT) * n1) AS num
  FROM cum CROSS JOIN tot
), best AS (
  SELECT * FROM gap WHERE n1 > 0 AND n2 > 0
  ORDER BY num DESC, v ASC LIMIT 1
)
SELECT n1 AS n_purchase, n2 AS n_click,
       CAST(v AS DOUBLE) AS at_value,
       round(CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
         AS d_stat,
       CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         > 1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
         AS reject_95
FROM best
""",
)
def q_ks_test_value_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test on event values, purchase vs
    click — the distribution-shape companion to purchase_click_ttest
    (Welch compares MEANS; KS catches any CDF divergence: variance,
    skew, bimodality).  D = max_v |F̂₁(v) − F̂₂(v)| is computed entirely
    in integer arithmetic: per-arm counts on the distinct-VALUE
    histogram (values are 2-decimal money in a bounded range, so the
    frame is DOMAIN-bounded — ≤ ~10⁵ rows at any data volume — and the
    audit-sanctioned global cumulative window runs over that aggregated
    frame, never the corpus), then the max of |k₁n₂ − k₂n₁| as exact
    DECIMAL(38,0) cross-multiplication (no float enters the argmax;
    ties break to the smallest value).  ONE float division finishes D,
    and reject_95 compares it against the α=0.05 asymptotic critical
    value c·√((n₁+n₂)/n₁n₂), c = 1.358 — identical fixed-order float
    ops on both engines.  Scan → keyed agg → bounded-frame window →
    TakeOrdered(1): no shuffle touches unaggregated rows twice."""
    from depositaja_spark.functions.numeric import dec

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click") & F.col("value").isNotNull()
    )
    arms = ev.select(
        dec("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    hist = arms.groupBy("v").agg(
        F.sum("p").cast("long").alias("c1"),
        (F.count(F.lit(1)) - F.sum("p")).cast("long").alias("c2"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select(
        "v", F.sum("c1").over(w).alias("k1"), F.sum("c2").over(w).alias("k2")
    )
    tot = arms.agg(
        F.sum("p").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("p")).cast("long").alias("n2"),
    )
    # 1-row broadcast scalar join (CARTESIAN_OK): the per-arm totals.
    gap = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("k1").cast("decimal(38,0)") * F.col("n2")
            - F.col("k2").cast("decimal(38,0)") * F.col("n1")
        ).alias("num"),
    )
    # an empty arm has no defined KS statistic: return zero rows (also
    # keeps the ANSI session clear of the 0/0 division below)
    best = (
        gap.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .orderBy(F.col("num").desc(), F.col("v").asc())
        .limit(1)
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    d_stat = F.col("num").cast("double") / (n1d * n2d)
    return best.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.col("v").cast("double").alias("at_value"),
        F.round(d_stat, 6).alias("d_stat"),
        (d_stat > 1.358 * F.sqrt((n1d + n2d) / (n1d * n2d))).alias("reject_95"),
    )


@query(
    "chi2_type_hour_independence",
    """
WITH ev AS (
  SELECT event_type,
         CAST(CAST(floor(epoch(ts)) AS BIGINT) % 86400 // 3600 AS INT) AS hour
  FROM events
), cell AS (
  SELECT event_type, hour, CAST(count(*) AS BIGINT) AS o
  FROM ev GROUP BY 1, 2
), rows_ AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY 1
), cols_ AS (
  SELECT hour, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY 1
), tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(count(DISTINCT hour) AS BIGINT) AS n_hours
  FROM cell
), grid AS (
  SELECT event_type, hour, r, c, coalesce(cell.o, 0) AS o
  FROM rows_ CROSS JOIN cols_
  LEFT JOIN cell USING (event_type, hour)
), term AS (
  SELECT grid.event_type, grid.hour,
         (CAST(grid.o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
            / CAST(n AS DOUBLE))
         * (CAST(grid.o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
            / CAST(n AS DOUBLE))
         / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS t,
         n, n_types, n_hours
  FROM grid
  CROSS JOIN tot
), run AS (
  SELECT n, n_types, n_hours,
         sum(t) OVER (ORDER BY event_type, hour) AS chi2,
         row_number() OVER (ORDER BY event_type DESC, hour DESC) AS rn
  FROM term
)
SELECT n AS n_events, n_types, n_hours,
       CAST((n_types - 1) * (n_hours - 1) AS BIGINT) AS dof,
       round(chi2, 6) AS chi2,
       CASE WHEN n_types > 1 AND n_hours > 1 THEN
         round(sqrt(chi2 / (CAST(n AS DOUBLE)
               * CAST(least(n_types - 1, n_hours - 1) AS DOUBLE))), 6)
       END AS cramers_v
FROM run WHERE rn = 1
""",
)
def q_chi2_type_hour_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² test of independence between event type and hour-of-
    day, with Cramér's V effect size — 'is traffic mix time-of-day
    dependent?', the categorical sibling of the Welch/KS pair.  The
    contingency table is DOMAIN-bounded (|types| × 24 cells) and every
    χ² term is the fixed-op-order float (o−rc/n)²/(rc/n) from exact
    integer marginals; the cross-cell total deliberately avoids a
    groupBy float sum (addition order would be partition-dependent) by
    accumulating through an ORDERED running window over the ≤120-row
    frame and keeping its last row — frame-order accumulation is
    bit-identical on both engines.  One corpus scan feeds the cell agg;
    marginals and the grand total are aggregations OF the cell frame,
    never the corpus; the scalar total joins back as a 1-row broadcast
    (CARTESIAN_OK)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("ts").cast("long") % 86400) / 3600).cast("int").alias("hour"),
    )
    cell = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows_ = cell.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    cols_ = cell.groupBy("hour").agg(F.sum("o").cast("long").alias("c"))
    tot = cell.agg(
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.count_distinct("hour").cast("long").alias("n_hours"),
    )
    od = F.col("o").cast("double")
    e = F.col("r").cast("double") * F.col("c").cast("double") / F.col("n").cast("double")
    # the full contingency grid: types x hours (both BOUNDED aggregate
    # frames), zero-filled — a cell with no events still contributes its
    # expected mass to chi2 (a type confined to one hour would otherwise
    # score half its true statistic)
    grid = (
        rows_.crossJoin(cols_)
        .join(cell, ["event_type", "hour"], "left")
        .select("event_type", "hour", "r", "c", F.coalesce("o", F.lit(0)).alias("o"))
    )
    term = grid.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "hour",
        ((od - e) * (od - e) / e).alias("t"),
        "n",
        "n_types",
        "n_hours",
    )
    wsum = W.orderBy("event_type", "hour").rowsBetween(W.unboundedPreceding, 0)
    wlast = W.orderBy(F.col("event_type").desc(), F.col("hour").desc())
    run = term.select(
        "n",
        "n_types",
        "n_hours",
        F.sum("t").over(wsum).alias("chi2"),
        F.row_number().over(wlast).alias("rn"),
    ).filter(F.col("rn") == 1)
    return run.select(
        F.col("n").alias("n_events"),
        "n_types",
        "n_hours",
        ((F.col("n_types") - 1) * (F.col("n_hours") - 1)).cast("long").alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        # single-use guarded division: If/CaseWhen branches stay lazy, so
        # no try_divide is needed (unlike the thrice-used MK z)
        F.when(
            (F.col("n_types") > 1) & (F.col("n_hours") > 1),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n").cast("double")
                        * F.least(F.col("n_types") - 1, F.col("n_hours") - 1).cast(
                            "double"
                        )
                    )
                ),
                6,
            ),
        ).alias("cramers_v"),
    )


# --- Hilbert layout keys ------------------------------------------------------

def _hilbert_sql() -> str:
    from depositaja_spark.functions.zorder import HILBERT_BITS, hilbert_key_sql

    return hilbert_key_sql(
        base_select="SELECT o_orderkey, o_custkey, o_orderdate FROM orders",
        key_cols="o_orderkey",
        x_expr="o_custkey % 65536",
        y_expr="CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 % 65536",
        bits=HILBERT_BITS,
    )


@query("hilbert_layout_keys", _hilbert_sql())
def q_hilbert_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (customer, order-day) — the
    locality-superior sibling of zorder_layout_keys (consecutive
    Hilbert cells are always Manhattan-adjacent, so a range-partitioned
    layout gets strictly tighter per-file min/max bounds than Morton's
    quadrant jumps; Delta Lake added exactly this as 'liquid
    clustering').  Same bucketed dimensions as the Z-order query so
    the two layouts are comparable file-for-file.  The unrolled xy2d
    state machine is a linear chain of per-level Projects (see
    functions/zorder.py:hilbert_key — CASEs referencing the previous
    level twice are what keeps CollapseProject from exponential
    inlining), scan-local with zero shuffles; the oracle replays the
    identical levels as chained CTEs."""
    from depositaja_spark.functions.zorder import hilbert_key

    orders = _t(spark, sf_dir, "orders")
    return hilbert_key(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        F.col("o_custkey") % 65536,
        F.floor(F.col("o_orderdate").cast("long") / 86400).cast("long") % 65536,
    ).select("o_orderkey", "hval")


@query(
    "signup_purchase_latency",
    """
WITH su AS (
  SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS s
  FROM events WHERE event_type = 'signup' GROUP BY 1
), fp AS (
  SELECT e.user_id, min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS p
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= su.s
  GROUP BY 1
), lat AS (
  SELECT su.user_id, su.s - su.s % 86400 AS cohort_day,
         (fp.p - su.s) // 3600 AS lat
  FROM su LEFT JOIN fp USING (user_id)
), coh AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_signups,
         CAST(count(lat) AS BIGINT) AS n_converted
  FROM lat GROUP BY 1
), conv AS (
  SELECT cohort_day, lat,
         row_number() OVER (PARTITION BY cohort_day
                            ORDER BY lat, user_id) AS rn
  FROM lat WHERE lat IS NOT NULL
)
SELECT c.cohort_day, c.n_signups, c.n_converted,
       round(CAST(c.n_converted AS DOUBLE) / c.n_signups, 6) AS conversion,
       m.lat AS median_hours_to_purchase
FROM coh c
LEFT JOIN conv m
  ON m.cohort_day = c.cohort_day AND m.rn = (c.n_converted + 1) // 2
""",
)
def q_signup_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion per signup cohort: users grouped by signup
    day, with conversion share and the exact LOWER-median hours from
    first signup to first subsequent purchase — the activation metric
    behind onboarding funnels.  Latencies are pure integer arithmetic
    ((p−s) div 3600 — integer division, never a float floor that can
    misround at hour boundaries); the median is a pure ORDER STATISTIC
    (row_number with full (lat, user_id) tie-break, no interpolation
    arithmetic to diverge across engines), computed through the
    grouped-bucket rank decomposition (functions/windows.py) so no
    cohort's converters ever funnel through one window task — cohorts
    are calendar-days, the hot-partition class the flat window would
    create over a billion-user table.  Unconverted cohorts ship NULL
    medians; conversion is one float division from exact counts."""
    from depositaja_spark.functions.windows import grouped_ntile_cume

    ev = _t(spark, sf_dir, "events")
    t = F.col("ts").cast("long")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(t).alias("s"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", t.alias("pt"))
        .join(su, "user_id")
        .filter(F.col("pt") >= F.col("s"))
        .groupBy("user_id")
        .agg(F.min("pt").alias("p"))
    )
    lat = su.join(fp, "user_id", "left").select(
        "user_id",
        (F.col("s") - F.col("s") % 86400).alias("cohort_day"),
        F.expr("(p - s) div 3600").alias("lat"),
    )
    coh = lat.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_signups"),
        F.count("lat").cast("long").alias("n_converted"),
    )
    conv = grouped_ntile_cume(
        lat.filter(F.col("lat").isNotNull()),
        part_col="cohort_day",
        value_col="lat",
        tiebreak_col="user_id",
        n_tiles=4,
        rank_col="_r",
    )
    med = conv.join(coh, "cohort_day").filter(
        F.col("_r") == F.expr("(n_converted + 1) div 2")
    ).select("cohort_day", F.col("lat").alias("median_hours_to_purchase"))
    return coh.join(med, "cohort_day", "left").select(
        "cohort_day",
        "n_signups",
        "n_converted",
        F.round(
            F.col("n_converted").cast("double") / F.col("n_signups"), 6
        ).alias("conversion"),
        "median_hours_to_purchase",
    )


@query(
    "abc_part_classification",
    f"""
WITH pr AS (
  SELECT l_partkey,
         CAST(sum({_EP} * ({_ONE} - {_DISC})) AS DECIMAL(22,4)) AS rev
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT l_partkey, rev,
         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey)
              AS DECIMAL(38,4)) AS c
  FROM pr
), tot AS (
  SELECT CAST(sum(rev) AS DECIMAL(38,4)) AS t,
         CAST(count(*) AS BIGINT) AS np
  FROM pr
), cls AS (
  SELECT CASE WHEN c * 100 <= t * 80 THEN 'A'
              WHEN c * 100 <= t * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         rev, t
  FROM cum CROSS JOIN tot
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(CAST(sum(rev) AS DECIMAL(38,4)) AS DOUBLE)
             / CAST(t AS DOUBLE), 6) AS revenue_share
FROM cls GROUP BY abc_class, t
""",
)
def q_abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification of parts by discounted
    revenue: class A carries the first 80% of cumulative revenue, B the
    next 15%, C the tail — the 80/20 screen behind assortment and
    stocking decisions (the per-curve sibling of revenue_lorenz_curve).
    Classification is EXACT decimal algebra end-to-end: per-part
    revenue and the running total are DECIMAL sums, and the class
    boundary test is the cross-multiplication c·100 ≤ t·80 — no float
    touches the assignment, so ties and knife-edge parts land
    identically on both engines (order fully pinned by (rev DESC,
    partkey)).  The engine computes the sf-scaling cumulative sum
    through the two-level VALUE-bucket decomposition (approx-quantile
    bounds → exact per-bucket offsets on the bounded bucket frame →
    within-bucket window), so no single task ever sorts the whole part
    dimension — the flat window the ORACLE uses is exactly what dies at
    10⁹ parts.  Output is the cap-bounded 3-row class summary."""
    from depositaja_spark.functions.numeric import dec

    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    pr = li.groupBy("l_partkey").agg(
        F.sum(rev).cast("decimal(22,4)").alias("rev")
    )
    # two-level exact cumulative sum over (rev DESC, l_partkey): coarse
    # value buckets from approx quantiles (equal revs share a bucket and
    # the bucket index is monotone in the DESC order), exact per-bucket
    # decimal offsets on the bounded bucket frame, bounded within-bucket
    # running windows — same decomposition as distributed_ntile
    d = F.col("rev").cast("double")
    fracs = [i / 32 for i in range(1, 32)]
    row = pr.agg(F.percentile_approx(d, fracs, 10_000).alias("q")).collect()[0]
    bounds = sorted(set(row.q or []))
    asc = sum(
        (F.when(d > F.lit(bv), 1).otherwise(0) for bv in bounds),
        F.lit(0),
    )
    b = pr.withColumn("_vb", (F.lit(len(bounds)) - asc).cast("int"))
    counts = b.groupBy("_vb").agg(F.sum("rev").cast("decimal(38,4)").alias("_bt"))
    woff = W.orderBy("_vb").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_vb",
        F.coalesce(F.sum("_bt").over(woff), F.lit(0).cast("decimal(38,4)")).alias(
            "_boff"
        ),
    )
    wrun = (
        W.partitionBy("_vb")
        .orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = b.join(F.broadcast(offsets), "_vb").select(
        "l_partkey",
        "rev",
        (F.col("_boff") + F.sum("rev").over(wrun)).cast("decimal(38,4)").alias("c"),
    )
    tot = pr.agg(
        F.sum("rev").cast("decimal(38,4)").alias("t"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    # 1-row broadcast scalar join (CARTESIAN_OK): the revenue total.
    cls = cum.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("c") * 100 <= F.col("t") * 80, "A")
        .when(F.col("c") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev",
        "t",
    )
    return cls.groupBy("abc_class", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(
            F.sum("rev").cast("decimal(38,4)").cast("double")
            / F.col("t").cast("double"),
            6,
        ).alias("revenue_share"),
    ).drop("t")


@query(
    "mannwhitney_value_dist",
    """
WITH arms AS (
  SELECT CAST(value AS DECIMAL(18,2)) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
), hist AS (
  SELECT v, CAST(sum(p) AS BIGINT) AS c1,
         CAST(count(*) - sum(p) AS BIGINT) AS c2
  FROM arms GROUP BY v
), cum AS (
  SELECT v, c1, c2,
         CAST(coalesce(sum(c1 + c2) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cb
  FROM hist
), agg AS (
  SELECT CAST(sum(CAST(c1 AS HUGEINT) * (2 * cb + c1 + c2 + 1)) AS HUGEINT)
           AS r1x2,
         CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                  - (c1 + c2)) AS HUGEINT) AS tie3,
         CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2
  FROM cum
), u AS (
  SELECT n1, n2,
         CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2 AS u1,
         CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) AS n12,
         CAST(n1 + n2 AS DOUBLE) AS n,
         CAST(tie3 AS DOUBLE) AS t3
  FROM agg WHERE n1 > 0 AND n2 > 0
), v AS (
  SELECT n1, n2, u1, n12,
         n12 / 12 * ((n + 1) - t3 / (n * (n - 1))) AS var_u
  FROM u WHERE n > 1
)
SELECT n1 AS n_purchase, n2 AS n_click,
       round(u1, 2) AS u_stat,
       round(u1 / n12, 6) AS auc,
       CASE WHEN var_u > 0
            THEN round((u1 - n12 / 2) / sqrt(var_u), 6) END AS z_stat
FROM v
""",
)
def q_mannwhitney_value_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) on event values, purchase vs
    click — the nonparametric location test completing the inference
    family (Welch = means, KS = shape, MWU = stochastic dominance), and
    U/(n₁n₂) IS the ROC-AUC: the probability a random purchase value
    exceeds a random click value, the standard scale-free classifier
    readout.  All rank arithmetic is exact integers on the
    DOMAIN-bounded distinct-value histogram: doubled midranks 2r̄(v) =
    2·cum_before + ties + 1 avoid fractions, Σc₁·2r̄ accumulates in
    128-bit/DECIMAL(38,0), and the tie-corrected normal approximation
    Var(U) = n₁n₂/12·[(n+1) − Σ(t³−t)/(n(n−1))] divides exact moments
    in ONE fixed float order (no continuity correction — documented,
    mirrored in the oracle).  Same scan→keyed-agg→bounded-window shape
    as the KS test; empty arm or n ≤ 1 → zero rows; all-ties → NULL z
    but a valid AUC of 0.5."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click") & F.col("value").isNotNull()
    )
    from depositaja_spark.functions.numeric import dec

    arms = ev.select(
        dec("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    hist = arms.groupBy("v").agg(
        F.sum("p").cast("long").alias("c1"),
        (F.count(F.lit(1)) - F.sum("p")).cast("long").alias("c2"),
    )
    wprev = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "c1",
        "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wprev), F.lit(0))
        .cast("long")
        .alias("cb"),
    )
    t = (F.col("c1") + F.col("c2")).cast("decimal(38,0)")
    agg = cum.agg(
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("cb") + F.col("c1") + F.col("c2") + 1)
        ).alias("r1x2"),
        F.sum(t * t * t - t).alias("tie3"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    u = agg.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "n1",
        "n2",
        (
            (
                F.col("r1x2")
                - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
            ).cast("double")
            / 2
        ).alias("u1"),
        (F.col("n1").cast("double") * F.col("n2").cast("double")).alias("n12"),
        (F.col("n1") + F.col("n2")).cast("double").alias("n"),
        F.col("tie3").cast("double").alias("t3"),
    )
    v = u.filter(F.col("n") > 1).select(
        "n1",
        "n2",
        "u1",
        "n12",
        (
            F.col("n12")
            / 12
            * ((F.col("n") + 1) - F.col("t3") / (F.col("n") * (F.col("n") - 1)))
        ).alias("var_u"),
    )
    return v.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.round("u1", 2).alias("u_stat"),
        F.round(F.col("u1") / F.col("n12"), 6).alias("auc"),
        F.when(
            F.col("var_u") > 0,
            F.round((F.col("u1") - F.col("n12") / 2) / F.sqrt(F.col("var_u")), 6),
        ).alias("z_stat"),
    )


# --- Markov steady state --------------------------------------------------------

_MARKOV_ITERS = 8

_MARKOV_BASE_SQL = """
tr AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
states AS (
  SELECT prev_type AS s FROM tr
  UNION
  SELECT next_type FROM tr
),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM states),
rt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS r FROM tr GROUP BY 1),
p AS (
  SELECT prev_type AS src, next_type AS dst, CAST(n AS DOUBLE) / r AS p
  FROM tr JOIN rt USING (prev_type)
  UNION ALL
  -- dangling states teleport uniformly (PageRank's dangling-mass rule)
  SELECT d.s, t.s, 1.0 / ns.n
  FROM (SELECT s FROM states
        WHERE s NOT IN (SELECT prev_type FROM rt)) d
  CROSS JOIN states t CROSS JOIN ns
),
x0 AS (SELECT s, 1.0 / n AS x FROM states CROSS JOIN ns)"""


def _markov_iter_sql(k: int) -> str:
    """One ordered-accumulation power step: contributions sorted by
    source inside each target's running-sum window, so the float fold
    order is pinned on both engines (frame-order accumulation is
    bit-identical; a plain GROUP BY SUM is partition-order dependent)."""
    return f"""
c{k} AS (
  SELECT p.dst AS s, p.src AS src, x.x * p.p AS term
  FROM x{k - 1} x JOIN p ON x.s = p.src
),
x{k} AS (
  SELECT s, x FROM (
    SELECT s,
           sum(term) OVER (PARTITION BY s ORDER BY src
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS x,
           row_number() OVER (PARTITION BY s ORDER BY src DESC) AS rn
    FROM c{k}
  ) WHERE rn = 1
)"""


def _markov_sql() -> str:
    body = _MARKOV_BASE_SQL + ","
    body += ",".join(_markov_iter_sql(k) for k in range(1, _MARKOV_ITERS + 1))
    return f"""
WITH {body},
tshare AS (
  SELECT next_type AS s, CAST(sum(n) AS BIGINT) AS cn FROM tr GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS c FROM tr)
SELECT x.s AS state,
       round(x.x, 6) AS steady_prob,
       round(CAST(coalesce(tshare.cn, 0) AS DOUBLE) / tot.c, 6)
         AS target_share
FROM x{_MARKOV_ITERS} x
LEFT JOIN tshare ON tshare.s = x.s
CROSS JOIN tot
"""


@query("markov_steady_state", _markov_sql())
def q_markov_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain (the long-run share of each action if behavior froze) —
    8 power-method iterations (_MARKOV_ITERS) over the row-stochastic
    transition matrix built from event_transition_matrix's counts, with
    dangling states teleporting uniformly (PageRank's rule, so mass is
    conserved exactly).  Every frame after the corpus scan is BOUNDED
    (|types|² + |types| rows); per-iteration sums accumulate through an
    ORDERED running window (sorted by source state) so the float fold
    order is pinned on both engines — the tiny-frame analog of the χ²
    query's ordered total, where a GROUP BY float sum would be
    partition-order dependent.  target_share (the empirical share of
    transition TARGETS) ships alongside as the mixing sanity readout.
    One corpus window + one keyed agg; iterations are driver-free
    bounded joins."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from depositaja_spark.functions.cache import tracked_persist

    tr = tracked_persist(tr)
    states = (
        tr.select(F.col("prev_type").alias("s"))
        .union(tr.select("next_type"))
        .distinct()
    )
    ns = states.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rt = tr.groupBy("prev_type").agg(F.sum("n").cast("long").alias("r"))
    p_obs = tr.join(rt, "prev_type").select(
        F.col("prev_type").alias("src"),
        F.col("next_type").alias("dst"),
        (F.col("n").cast("double") / F.col("r")).alias("p"),
    )
    dang = states.join(
        rt.select(F.col("prev_type").alias("s")), "s", "left_anti"
    )
    # bounded-frame cross joins (|types| x |types| x 1-row count)
    p_dang = (
        dang.select(F.col("s").alias("src"))
        .crossJoin(states.select(F.col("s").alias("dst")))
        .crossJoin(F.broadcast(ns))
        .select("src", "dst", (F.lit(1.0) / F.col("n")).alias("p"))
    )
    p = tracked_persist(p_obs.unionAll(p_dang))
    x = states.crossJoin(F.broadcast(ns)).select(
        "s", (F.lit(1.0) / F.col("n")).alias("x")
    )
    wrun = (
        W.partitionBy("dst")
        .orderBy("src")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wlast = W.partitionBy("dst").orderBy(F.col("src").desc())
    for _ in range(_MARKOV_ITERS):
        c = x.join(p, x["s"] == p["src"]).select(
            "dst", "src", (F.col("x") * F.col("p")).alias("term")
        )
        x = (
            c.select(
                F.col("dst").alias("s"),
                F.sum("term").over(wrun).alias("x"),
                F.row_number().over(wlast).alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
    tshare = tr.groupBy(F.col("next_type").alias("s")).agg(
        F.sum("n").cast("long").alias("cn")
    )
    tot = tr.agg(F.sum("n").cast("long").alias("c"))
    return (
        x.join(tshare, "s", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("state"),
            F.round("x", 6).alias("steady_prob"),
            F.round(
                F.coalesce(F.col("cn"), F.lit(0)).cast("double") / F.col("c"), 6
            ).alias("target_share"),
        )
    )


@query(
    "ab_conversion_ztest",
    """
WITH assign AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' AND value >= 150
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), m AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1
  FROM assign
), g AS (
  SELECT n0, c0, n1, c1,
         CAST(c0 AS DOUBLE) / n0 AS p0,
         CAST(c1 AS DOUBLE) / n1 AS p1,
         CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp
  FROM m WHERE n0 > 0 AND n1 > 0
)
SELECT n0 AS n_control, c0 AS conv_control,
       n1 AS n_treatment, c1 AS conv_treatment,
       round(p1 - p0, 6) AS lift,
       CASE WHEN pp > 0 AND pp < 1 THEN
         round((p1 - p0)
               / sqrt(pp * (1 - pp)
                      * (1.0 / n0 + 1.0 / n1)), 6)
       END AS z_stat
FROM g
""",
)
def q_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (did the user ever make
    a HIGH-VALUE purchase, value ≥ 150 — the fixture's ~45% rate; 'ever
    purchased anything' saturates at 100% and degenerates the test)
    between two DETERMINISTIC hash-split arms — the A/B
    readout primitive, with the split itself the same md5-parity
    assignment the train/val splitter uses (reproducible, shuffle-free,
    engine-portable via the repo's 60-bit md5 prefix hash).  Counts are
    exact integers from one user-keyed aggregation + one global fold;
    the pooled-variance z is ONE fixed float expression; degenerate
    pools (0% or 100% conversion) return NULL z, an empty arm returns
    zero rows — all ANSI-safe."""
    ev = _t(spark, sf_dir, "events")
    from depositaja_spark.functions.text import hash64

    assign = ev.groupBy(
        "user_id",
        (hash64(F.col("user_id").cast("string")) % 2).alias("arm"),
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    m = assign.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    g = m.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "n0",
        "c0",
        "n1",
        "c1",
        (F.col("c0").cast("double") / F.col("n0")).alias("p0"),
        (F.col("c1").cast("double") / F.col("n1")).alias("p1"),
        (
            (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
        ).alias("pp"),
    )
    pp = F.col("pp")
    return g.select(
        F.col("n0").alias("n_control"),
        F.col("c0").alias("conv_control"),
        F.col("n1").alias("n_treatment"),
        F.col("c1").alias("conv_treatment"),
        F.round(F.col("p1") - F.col("p0"), 6).alias("lift"),
        F.when(
            (pp > 0) & (pp < 1),
            F.round(
                (F.col("p1") - F.col("p0"))
                / F.sqrt(
                    pp
                    * (1 - pp)
                    * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
                ),
                6,
            ),
        ).alias("z_stat"),
    )


@query(
    "cuped_variance_reduction",
    """
WITH bounds AS (
  SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
          + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
  FROM events WHERE value IS NOT NULL
), split AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < mid
                       THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END)
              AS DECIMAL(18,2)) AS x,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= mid
                       THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END)
              AS DECIMAL(18,2)) AS y
  FROM events CROSS JOIN bounds
  WHERE value IS NOT NULL GROUP BY 1
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM split
), g AS (
  SELECT n,
         CAST(n AS DOUBLE) * sxy - sx * sy AS cov_n,
         CAST(n AS DOUBLE) * sxx - sx * sx AS varx_n,
         CAST(n AS DOUBLE) * syy - sy * sy AS vary_n
  FROM m WHERE n > 1
)
SELECT n AS n_users,
       CASE WHEN varx_n > 0 THEN round(cov_n / varx_n, 6) END AS theta,
       CASE WHEN varx_n > 0 AND vary_n > 0
            THEN round(cov_n / varx_n * cov_n / vary_n, 6) END
         AS variance_reduction
FROM g
""",
)
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): the experimentation-platform variance
    cut — per-user PRE-period value (first 15 days) as the covariate X
    for the POST-period metric Y, θ = cov(X,Y)/var(X), and the achieved
    reduction var(Y−θX)/var(Y) shortfall = ρ² = θ·cov/var(Y).  All five
    moments are exact-DECIMAL sums over one user-keyed aggregation (the
    t-test's expansion, two variables); θ and ρ² are fixed-op-order
    float finishes.  The pre/post boundary is the DATA-DERIVED calendar
    midpoint ((min+max) div 2 epoch, a 1-row broadcast scalar) — a
    production run parameterizes it to the experiment start.
    Zero pre-period variance → NULL θ (CUPED degenerates to the plain
    estimator); n ≤ 1 → zero rows."""
    from depositaja_spark.functions.numeric import dec

    t = F.col("ts").cast("long")
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # data-derived calendar midpoint: 1-row broadcast scalar (CARTESIAN_OK)
    bounds = ev.agg(
        F.expr("(min(cast(ts as long)) + max(cast(ts as long))) div 2").alias("mid")
    )
    split = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(t < F.col("mid"), dec("value")).otherwise(F.lit(0)))
            .cast("decimal(18,2)")
            .alias("x"),
            F.sum(F.when(t >= F.col("mid"), dec("value")).otherwise(F.lit(0)))
            .cast("decimal(18,2)")
            .alias("y"),
        )
    )
    m = split.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    g = m.filter(F.col("n") > 1).select(
        "n",
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_n"),
        (nd * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx_n"),
        (nd * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary_n"),
    )
    return g.select(
        F.col("n").alias("n_users"),
        F.when(
            F.col("varx_n") > 0, F.round(F.col("cov_n") / F.col("varx_n"), 6)
        ).alias("theta"),
        F.when(
            (F.col("varx_n") > 0) & (F.col("vary_n") > 0),
            F.round(
                F.col("cov_n") / F.col("varx_n") * F.col("cov_n") / F.col("vary_n"),
                6,
            ),
        ).alias("variance_reduction"),
    )


@query(
    "session_type_affinity",
    """
WITH gaps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ids AS (
  SELECT user_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
),
st AS (SELECT DISTINCT user_id, sid, event_type FROM ids),
n AS (SELECT CAST(count(DISTINCT (user_id, sid)) AS BIGINT) AS n_sessions
      FROM st),
singles AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1
),
copresent AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.sid = b.sid
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       round(CAST(n_both AS DOUBLE) * n_sessions
             / (CAST(sa.n AS DOUBLE) * sb.n), 6) AS lift,
       round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6) AS jaccard
FROM copresent
JOIN singles sa ON sa.event_type = type_a
JOIN singles sb ON sb.event_type = type_b
CROSS JOIN n
""",
)
def q_session_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event types co-occur within one user SESSION (30-min gap,
    the same F.session_window definition the sessionization queries
    use): per type pair, co-presence count, lift (co-occurrence vs the
    independence expectation — the session-level sibling of the order-
    basket association rules), and session-set Jaccard.  Counts are
    exact integers from the distinct (session, type) frame — at most
    |types| rows per session, so the pair self-join fans out ≤|types|²
    per session key and the outputs are a BOUNDED |types|² frame;
    lift/jaccard are one fixed float expression each.  The total-
    sessions scalar is a 1-row broadcast (CARTESIAN_OK).  Sessions are
    labeled by the gap→island method (lag + running sum over the
    high-cardinality user key — the user_sessions formulation) rather
    than F.session_window, because session_window inside a groupBy that
    ALSO keys on event_type would compute each type's own session
    boundaries and types sharing a temporal session would never join
    (found live: the first draft produced zero pairs)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # FRACTIONAL seconds (cast double), matching the oracle's epoch():
    # a floored-long gap of exactly 1800 would merge where a 1800.5s
    # real gap must split
    t = F.col("ts").cast("double")
    gapped = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (t - F.lag(t).over(w) > 1800),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wrun = w.rowsBetween(W.unboundedPreceding, 0)
    st = (
        gapped.select(
            "user_id",
            "event_type",
            F.sum("new_session").over(wrun).alias("sid"),
        )
        .distinct()
    )
    from depositaja_spark.functions.cache import tracked_persist

    st = tracked_persist(st)
    n = st.select("user_id", "sid").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    singles = st.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = st.select(
        F.col("user_id").alias("bu"),
        F.col("sid").alias("bs"),
        F.col("event_type").alias("type_b"),
    )
    both = (
        st.join(
            b,
            (F.col("user_id") == F.col("bu"))
            & (F.col("sid") == F.col("bs"))
            & (F.col("event_type") < F.col("type_b")),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        both.join(sa, "type_a")
        .join(sb, "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_sessions")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "ab_power_mde",
    """
WITH assign AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' AND value >= 150
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), m AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(converted) AS BIGINT) AS c
  FROM assign
), g AS (
  SELECT n0, n1,
         CAST(c AS DOUBLE) / (n0 + n1) AS p
  FROM m WHERE n0 > 0 AND n1 > 0
)
SELECT n0 AS n_control, n1 AS n_treatment,
       round(p, 6) AS baseline_rate,
       CASE WHEN p > 0 AND p < 1 THEN
         round((1.959964 + 0.841621)
               * sqrt(p * (1 - p) * (1.0 / n0 + 1.0 / n1)), 6)
       END AS mde_abs,
       CASE WHEN p > 0 AND p < 1 THEN
         round((1.959964 + 0.841621)
               * sqrt(p * (1 - p) * (1.0 / n0 + 1.0 / n1)) / p, 6)
       END AS mde_rel
FROM g
""",
)
def q_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the hash-split conversion
    experiment at α = 0.05 two-sided / 80% power: MDE = (z_α + z_β) ·
    √(p(1−p)(1/n₀+1/n₁)) with the z constants as SHARED LITERALS
    (1.959964, 0.841621 — the same cross-engine literal discipline as
    the trend thresholds), around the pooled baseline conversion of the
    same md5-parity arms ab_conversion_ztest reads.  The planning
    companion to the test itself: 'how small a lift could this traffic
    even see?'.  One user-keyed agg + one global fold; degenerate
    baselines (0%/100%) return NULL MDE."""
    ev = _t(spark, sf_dir, "events")
    from depositaja_spark.functions.text import hash64

    assign = ev.groupBy(
        "user_id",
        (hash64(F.col("user_id").cast("string")) % 2).alias("arm"),
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    m = assign.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum("converted").cast("long").alias("c"),
    )
    g = m.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "n0",
        "n1",
        (F.col("c").cast("double") / (F.col("n0") + F.col("n1"))).alias("p"),
    )
    p = F.col("p")
    mde = (F.lit(1.959964) + F.lit(0.841621)) * F.sqrt(
        p * (1 - p) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return g.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        F.round(p, 6).alias("baseline_rate"),
        F.when((p > 0) & (p < 1), F.round(mde, 6)).alias("mde_abs"),
        F.when((p > 0) & (p < 1), F.round(mde / p, 6)).alias("mde_rel"),
    )


@query(
    "daily_active_growth",
    """
WITH firsts AS (
  SELECT user_id,
         min(CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(ts)) AS BIGINT) % 86400) AS first_day
  FROM events GROUP BY 1
),
dau AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS day_unix,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1
),
news AS (
  SELECT first_day AS day_unix, CAST(count(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY 1
)
SELECT d.day_unix, d.dau,
       coalesce(n.new_users, 0) AS new_users,
       d.dau - coalesce(n.new_users, 0) AS returning_users,
       CAST(sum(coalesce(n.new_users, 0))
            OVER (ORDER BY d.day_unix
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cumulative_users
FROM dau d LEFT JOIN news n ON n.day_unix = d.day_unix
""",
)
def q_daily_active_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per calendar day, DAU split into NEW (first
    day ever seen) vs RETURNING users plus the cumulative user count —
    the product-analytics top panel.  The expensive parts are two
    exact keyed aggregations (per-day distinct users; per-user first
    day) that both shuffle once on high-cardinality keys; everything
    after runs on the CALENDAR-bounded daily frame, including the
    cumulative window (aggregate below, ≤days rows).  All counts exact
    integers; no floats anywhere."""
    ev = _t(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") - F.col("ts").cast("long") % 86400).alias(
        "day_unix"
    )
    firsts = ev.select("user_id", day).groupBy("user_id").agg(
        F.min("day_unix").alias("first_day")
    )
    dau = ev.select("user_id", day).groupBy("day_unix").agg(
        F.count_distinct("user_id").cast("long").alias("dau")
    )
    news = firsts.groupBy(F.col("first_day").alias("day_unix")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = W.orderBy("day_unix").rowsBetween(W.unboundedPreceding, 0)
    j = dau.join(news, "day_unix", "left").select(
        "day_unix",
        "dau",
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
    )
    return j.select(
        "day_unix",
        "dau",
        "new_users",
        (F.col("dau") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


_WHALE_PCT = 1  # top percent of users by lifetime value


@query(
    "whale_value_share",
    f"""
WITH per_user AS (
  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v DESC, user_id) AS rn,
         count(*) OVER () AS n
  FROM per_user
),
k AS (SELECT CAST((n * {_WHALE_PCT} + 99) // 100 AS BIGINT) AS k,
             CAST(n AS BIGINT) AS n
      FROM ranked LIMIT 1),
tot AS (SELECT CAST(sum(v) AS DECIMAL(38,2)) AS t FROM per_user),
top AS (
  SELECT CAST(sum(r.v) AS DECIMAL(38,2)) AS tv, max(k.k) AS k, max(k.n) AS n
  FROM ranked r CROSS JOIN k WHERE r.rn <= k.k
)
SELECT n AS n_users, k AS n_whales,
       CAST(tv AS DOUBLE) AS whale_value,
       round(CAST(tv AS DOUBLE) / CAST(t AS DOUBLE), 6) AS whale_share
FROM top CROSS JOIN tot
""",
)
def q_whale_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale concentration: the share of total event value held by the
    top {_WHALE_PCT}% of users (ceil, ≥1 whale) — the single-number
    'how much do the biggest customers matter' readout next to the full
    Lorenz/Gini curves.  The top-k cut is an exact ORDER STATISTIC with
    a full (value DESC, user_id) tie-break; the engine takes ranks from
    the grouped-bucket decomposition (functions/windows.py — no single-
    task sort over the sf-scaling user frame, which is exactly what the
    oracle's flat row_number window would be), sums stay exact DECIMAL,
    and ONE float division ends it.  Scalars (k, totals) are 1-row
    broadcasts."""
    from depositaja_spark.functions.numeric import dec
    from depositaja_spark.functions.windows import grouped_ntile_cume

    per_user = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(dec("value")).cast("decimal(18,2)").alias("v"))
    )
    ranked = grouped_ntile_cume(
        per_user.withColumn("_g", F.lit(1)).withColumn(
            "_nv", -F.col("v").cast("double")
        ),
        part_col="_g",
        value_col="_nv",
        tiebreak_col="user_id",
        n_tiles=4,
        rank_col="_rn",
    )
    kf = per_user.agg(
        F.expr(f"cast((count(*) * {_WHALE_PCT} + 99) div 100 as bigint)").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    tot = per_user.agg(F.sum("v").cast("decimal(38,2)").alias("t"))
    top = (
        ranked.crossJoin(F.broadcast(kf))
        .filter(F.col("_rn") <= F.col("k"))
        .agg(
            F.sum("v").cast("decimal(38,2)").alias("tv"),
            F.max("k").alias("k"),
            F.max("n").alias("n"),
        )
    )
    return top.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_users"),
        F.col("k").alias("n_whales"),
        F.col("tv").cast("double").alias("whale_value"),
        F.round(F.col("tv").cast("double") / F.col("t").cast("double"), 6).alias(
            "whale_share"
        ),
    )


# --- survival analysis: Kaplan-Meier over time-to-conversion ------------------

#: a "conversion" is the user's first purchase event at or above this
#: value — ~45% of fixture users convert, the rest are right-censored
#: at their last-seen day (a churn-style horizon is DEGENERATE on the
#: synthetic stream: every user stays active to within ~2 days of the
#: corpus end, so zero churn events exist at any horizon — found when
#: the round-9 spot-bench showed 0 output rows at every sf)
_CONV_VALUE_CUT = 150

#: log-rank cohort split: users with at least this many events on
#: their FIRST day are the "engaged-on-day-one" cohort (~45% of users,
#: visibly faster converters on the fixtures)
_ENGAGED_DAY1_EVENTS = 3

#: shared censored time-to-conversion frame (one row per user):
#: dur = days from first event to first qualifying purchase (converted)
#: or to last-seen (censored); grp = day-one engagement cohort
_SURV_LIFE_SQL = f"""ev AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CASE WHEN event_type = 'purchase' AND value >= {_CONV_VALUE_CUT}
              THEN 1 ELSE 0 END AS qual
  FROM events
),
daily AS (
  SELECT user_id, day, CAST(count(*) AS BIGINT) AS c, max(qual) AS q
  FROM ev GROUP BY 1, 2
),
ud AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1,
         min(CASE WHEN q = 1 THEN day END) AS dp,
         arg_min(c, day) AS c0
  FROM daily GROUP BY 1
),
life AS (
  SELECT CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE d1 - d0 END AS dur,
         CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS conv,
         CASE WHEN c0 >= {_ENGAGED_DAY1_EVENTS} THEN 1 ELSE 0 END AS grp
  FROM ud
)"""


def _conversion_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SURV_LIFE_SQL``: per-user (dur, conv, grp) —
    the censored time-to-conversion frame shared by the KM /
    Nelson-Aalen / log-rank family.  Two user-keyed aggs (per-(user,
    day) counts, then per-user min/max/argmin) — all exact integers,
    nothing driver-side, no corpus-end scalar needed because censoring
    is at each user's OWN last-seen day."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("value") >= _CONV_VALUE_CUT),
            1,
        )
        .otherwise(0)
        .alias("qual"),
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("c"), F.max("qual").alias("q")
    )
    ud = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.min(F.when(F.col("q") == 1, F.col("day"))).alias("dp"),
        F.min_by("c", "day").alias("c0"),
    )
    return ud.select(
        F.when(
            F.col("dp").isNotNull(), F.col("dp") - F.col("d0")
        )
        .otherwise(F.col("d1") - F.col("d0"))
        .alias("dur"),
        F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("conv"),
        F.when(F.col("c0") >= _ENGAGED_DAY1_EVENTS, 1)
        .otherwise(0)
        .alias("grp"),
    )


@query(
    "kaplan_meier_conversion",
    f"""
WITH {_SURV_LIFE_SQL},
g AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
             CAST(sum(conv) AS BIGINT) AS d
      FROM life GROUP BY 1),
r AS (SELECT dur, c_all, d,
             sum(c_all) OVER () AS nn,
             coalesce(sum(c_all) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS before
      FROM g),
km AS (SELECT dur, d, nn - before AS n_risk,
              sum(CASE WHEN nn - before > d
                       THEN ln((CAST(nn - before AS DOUBLE) - d)
                               / (nn - before))
                       ELSE 0.0 END) OVER (ORDER BY dur) AS logs,
              sum(CASE WHEN nn - before <= d THEN 1 ELSE 0 END)
                OVER (ORDER BY dur) AS zeroed
       FROM r)
SELECT CAST(dur AS BIGINT) AS t_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       d AS n_converted,
       CASE WHEN zeroed > 0 THEN 0.0 ELSE round(exp(logs), 6) END AS survival
FROM km WHERE d > 0
""",
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve of time-to-first-conversion (first purchase
    >= {_CONV_VALUE_CUT}), right-censoring never-converting users at
    their last-seen day — the censoring-aware answer to "how long until
    users convert?" that a naive mean ignores dropouts for.  S(t) = Π
    over event times u ≤ t of (n_u − d_u)/n_u with risk sets from an
    ordered cumulative over the duration-grouped frame (one row per
    distinct duration, never per user), the product as exp of an
    ORDERED window sum of logs (identical IEEE op order), and an exact
    zero latch pinning S=0 instead of exp(-inf).  Scale shape: two
    user-keyed aggs, then everything runs on the ≤|days-span| duration
    frame."""
    life = _conversion_life(spark, sf_dir)
    g = life.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c_all"),
        F.sum("conv").cast("long").alias("d"),
    )
    w_all = W.partitionBy()
    w_before = W.partitionBy().orderBy("dur").rowsBetween(
        W.unboundedPreceding, -1
    )
    w_run = W.partitionBy().orderBy("dur").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = g.select(
        "dur",
        "c_all",
        "d",
        F.sum("c_all").over(w_all).alias("nn"),
        F.coalesce(F.sum("c_all").over(w_before), F.lit(0)).alias("before"),
    )
    n_risk = F.col("nn") - F.col("before")
    km = r.select(
        "dur",
        "d",
        n_risk.alias("n_risk"),
        F.sum(
            F.when(
                n_risk > F.col("d"),
                F.log((n_risk.cast("double") - F.col("d")) / n_risk),
            ).otherwise(F.lit(0.0))
        )
        .over(w_run)
        .alias("logs"),
        F.sum(F.when(n_risk <= F.col("d"), 1).otherwise(0))
        .over(w_run)
        .alias("zeroed"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("dur").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_converted"),
        F.when(F.col("zeroed") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp("logs"), 6))
        .alias("survival"),
    )


# --- data-quality profiling ---------------------------------------------------

_EVENTS_PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "events_profile",
    "\nUNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM events"""
        for c in _EVENTS_PROFILE_COLS
    ),
)
def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data-quality profile of the event stream: per column
    its null count and exact distinct count — the first audit any
    ingestion pipeline runs (PK candidates, dead columns, null storms
    after a schema change).  One scan computes every column's
    (count, count-distinct) pair via Spark's multi-distinct aggregate
    rewrite (partial aggs per column, keyed expand — no per-column
    rescans), then the 6-metric row is unpivoted to one row per column
    on the 1-row result frame."""
    ev = _t(spark, sf_dir, "events")
    aggs = []
    for c in _EVENTS_PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"null_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"dist_{c}"),
        ]
    one = ev.agg(F.count(F.lit(1)).cast("long").alias("n"), *aggs)
    stack_args = ", ".join(
        f"'{c}', null_{c}, dist_{c}" for c in _EVENTS_PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_EVENTS_PROFILE_COLS)}, {stack_args})"
            " AS (col_name, n_null, n_distinct)"
        ),
        F.col("n").alias("n_rows"),
    ).select("col_name", "n_rows", "n_null", "n_distinct")


@query(
    "orders_pk_audit",
    """
WITH k AS (
  SELECT o_orderkey, CAST(count(*) AS BIGINT) AS m
  FROM orders GROUP BY 1
)
SELECT CAST(sum(m) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
       CAST(max(m) AS BIGINT) AS max_multiplicity
FROM k
""",
)
def q_orders_pk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit on orders: row count, distinct key
    count, duplicated-key count and the worst multiplicity — the CDC /
    ingestion invariant check (a retried batch or a bad merge shows up
    here before it corrupts every downstream join).  One keyed count +
    one 4-metric fold over the key frame; never returns an empty frame,
    so a clean table is a visible (n, n, 0, 1) row rather than silence."""
    o = _t(spark, sf_dir, "orders")
    k = o.groupBy("o_orderkey").agg(F.count(F.lit(1)).cast("long").alias("m"))
    return k.agg(
        F.sum("m").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("m") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_keys"),
        F.max("m").cast("long").alias("max_multiplicity"),
    )


# --- deterministic weighted sampling (Efraimidis-Spirakis) --------------------

_WS_K = 25
_WS_SALT = "wsample:"
_WS_MOD = 1_000_000_000


@query(
    "weighted_sample_topk",
    f"""
WITH sc AS (
  SELECT event_id, CAST(value AS DOUBLE) AS w,
         ln((CAST('0x' || substr(md5('{_WS_SALT}' || CAST(event_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_WS_MOD} + 1)
            / {float(_WS_MOD + 1)!r}) / CAST(value AS DOUBLE) AS key
  FROM events WHERE value IS NOT NULL AND value > 0
)
SELECT event_id, round(w, 4) AS weight, round(key, 6) AS sample_key,
       CAST(row_number() OVER (ORDER BY key DESC, event_id) AS INT) AS rank
FROM sc
ORDER BY key DESC, event_id
LIMIT {_WS_K}
""",
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res): each row draws a deterministic hash uniform u and ranks by
    u^(1/w) — equivalently ln(u)/w — so the top-{_WS_K} IS a weighted
    sample, reproducible across runs/engines/partitionings because u
    depends only on (salt, event_id), never an RNG stream (same
    determinism contract as stratified_sample).  The value-weighted
    sample every debugging/eval pipeline wants ('show me 25 events,
    big ones more often').  Plan: scan-local key computation, then
    orderBy().limit() → TakeOrderedAndProject (distributed top-k, no
    global sort); rank is assigned on the {_WS_K}-row result."""
    from pyspark.sql.window import Window as W2

    from depositaja_spark.functions.text import hash64

    ev = _t(spark, sf_dir, "events")
    u = (
        hash64(F.concat(F.lit(_WS_SALT), F.col("event_id").cast("string")))
        % _WS_MOD
        + 1
    ) / float(_WS_MOD + 1)
    sc = ev.filter(F.col("value").isNotNull() & (F.col("value") > 0)).select(
        "event_id",
        F.col("value").cast("double").alias("w"),
        (F.log(u) / F.col("value").cast("double")).alias("key"),
    )
    top = sc.orderBy(F.col("key").desc(), F.col("event_id").asc()).limit(_WS_K)
    return top.select(
        "event_id",
        F.round("w", 4).alias("weight"),
        F.round("key", 6).alias("sample_key"),
        F.row_number()
        .over(W2.partitionBy().orderBy(F.col("key").desc(), F.col("event_id")))
        .cast("int")
        .alias("rank"),
    )


# --- rolling 7-day active users ----------------------------------------------


@query(
    "rolling_7d_active_users",
    """
WITH pres AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
mx AS (SELECT max(day) AS mday FROM pres),
cover AS (
  SELECT DISTINCT user_id, day + unnest(range(0, 7)) AS cday
  FROM pres
)
SELECT CAST(cday AS BIGINT) AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
FROM cover CROSS JOIN mx
WHERE cday <= mday
GROUP BY 1
""",
)
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (users with ≥1 event in
    [d−6, d]) — the WAU trendline.  Rolling DISTINCT does not decompose
    over a window, so the plan inverts it: each distinct (user, day)
    presence row covers the 7 days it contributes to (a constant ×7
    array explode, scan-local), and the count is one keyed
    distinct-count per covered day — two keyed shuffles total,
    independent of the window length's interaction with user count.
    The corpus-end day bounds phantom tail days (1-row broadcast)."""
    ev = _t(spark, sf_dir, "events")
    pres = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    ).distinct()
    mx = pres.agg(F.max("day").alias("mday"))
    cover = pres.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("cday"),
    ).distinct()
    return (
        cover.crossJoin(F.broadcast(mx))
        .filter(F.col("cday") <= F.col("mday"))
        .groupBy(F.col("cday").cast("long").alias("day"))
        .agg(F.count_distinct("user_id").cast("long").alias("active_7d"))
    )


# --- one-way ANOVA F (k-group inference) --------------------------------------


@query(
    "anova_value_by_type",
    """
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
              AS DECIMAL(38,4)) AS q
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(s) AS DECIMAL(38,2)) AS st,
               CAST(sum(q) AS DECIMAL(38,4)) AS qt,
               CAST(count(*) AS BIGINT) AS k
        FROM g),
terms AS (
  SELECT event_type,
         CAST(s * s AS DOUBLE) / n AS ssq_over_n
  FROM g
),
fold AS (
  SELECT sum(ssq_over_n) OVER (ORDER BY event_type) AS run,
         row_number() OVER (ORDER BY event_type) AS rn,
         count(*) OVER () AS nk
  FROM terms
)
SELECT tot.k AS n_groups, tot.nn AS n_events,
       round(fold.run - CAST(tot.st * tot.st AS DOUBLE) / tot.nn, 4) AS ss_between,
       round(CAST(tot.qt AS DOUBLE) - fold.run, 4) AS ss_within,
       round(((fold.run - CAST(tot.st * tot.st AS DOUBLE) / tot.nn) / (tot.k - 1))
             / ((CAST(tot.qt AS DOUBLE) - fold.run) / (tot.nn - tot.k)), 6)
         AS f_stat,
       round((fold.run - CAST(tot.st * tot.st AS DOUBLE) / tot.nn)
             / (CAST(tot.qt AS DOUBLE) - CAST(tot.st * tot.st AS DOUBLE) / tot.nn), 6)
         AS eta_sq
FROM fold CROSS JOIN tot WHERE fold.rn = fold.nk
""",
)
def q_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across ALL event types on event value — the
    k-group completion of the inference family (Welch t is the 2-group
    special case; χ² covers categoricals): F = (SSB/(k−1))/(SSW/(N−k))
    plus the effect size η².  Per-group moments (n, Σx, Σx²) accumulate
    as exact DECIMAL in one keyed agg; the only float arithmetic is the
    ≤|types| per-group S²/n terms, folded through an ORDERED window so
    both engines add in type order, and the closed-form assembly.  One
    scan, one |types|-row frame, 1-row broadcast totals."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("value")).cast("decimal(38,2)").alias("s"),
        F.sum(dec("value") * dec("value")).cast("decimal(38,4)").alias("q"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("decimal(38,2)").alias("st"),
        F.sum("q").cast("decimal(38,4)").alias("qt"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    terms = g.select(
        "event_type",
        ((F.col("s") * F.col("s")).cast("double") / F.col("n")).alias(
            "ssq_over_n"
        ),
    )
    w_run = W.partitionBy().orderBy("event_type").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    fold = terms.select(
        F.sum("ssq_over_n").over(w_run).alias("run"),
        F.row_number().over(W.partitionBy().orderBy("event_type")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nk"),
    )
    j = fold.filter(F.col("rn") == F.col("nk")).crossJoin(F.broadcast(tot))
    grand = (F.col("st") * F.col("st")).cast("double") / F.col("nn")
    ssb = F.col("run") - grand
    ssw = F.col("qt").cast("double") - F.col("run")
    sst = F.col("qt").cast("double") - grand
    return j.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_events"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k"))), 6
        ).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


# --- Nelson-Aalen cumulative hazard -------------------------------------------


@query(
    "nelson_aalen_conversion",
    f"""
WITH {_SURV_LIFE_SQL},
g AS (SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
             CAST(sum(conv) AS BIGINT) AS d
      FROM life GROUP BY 1),
r AS (SELECT dur, c_all, d,
             sum(c_all) OVER () AS nn,
             coalesce(sum(c_all) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS before
      FROM g),
na AS (SELECT dur, d, nn - before AS n_risk,
              sum(CAST(d AS DOUBLE) / (nn - before)) OVER (ORDER BY dur)
                AS hazard
       FROM r)
SELECT CAST(dur AS BIGINT) AS t_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       d AS n_converted,
       round(hazard, 6) AS cum_hazard
FROM na WHERE d > 0
""",
)
def q_nelson_aalen_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ_{{u≤t}} d_u/n_u over the
    same censored time-to-conversion frame as kaplan_meier_conversion —
    the estimator survival texts pair with KM (H is what you plot to
    judge constant-hazard fit; −ln S approximates it).  Identical
    risk-set construction; the hazard increments are single float
    divisions of exact integers folded through an ORDERED window, so no
    log/exp at all — the numerically simplest member of the survival
    family."""
    life = _conversion_life(spark, sf_dir)
    g = life.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c_all"),
        F.sum("conv").cast("long").alias("d"),
    )
    w_all = W.partitionBy()
    w_before = W.partitionBy().orderBy("dur").rowsBetween(
        W.unboundedPreceding, -1
    )
    w_run = W.partitionBy().orderBy("dur").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = g.select(
        "dur",
        "c_all",
        "d",
        F.sum("c_all").over(w_all).alias("nn"),
        F.coalesce(F.sum("c_all").over(w_before), F.lit(0)).alias("before"),
    )
    n_risk = F.col("nn") - F.col("before")
    na = r.select(
        "dur",
        "d",
        n_risk.alias("n_risk"),
        F.sum(F.col("d").cast("double") / n_risk).over(w_run).alias("hazard"),
    )
    return na.filter(F.col("d") > 0).select(
        F.col("dur").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_converted"),
        F.round("hazard", 6).alias("cum_hazard"),
    )


# --- recency-weighted user value (exponential time decay) ---------------------

#: decay rate per day (shared literal both engines; half-life ≈ 10 days)
_DECAY_LAMBDA = 0.07


@query(
    "user_value_time_decay",
    f"""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(value AS DOUBLE) AS v,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events WHERE value IS NOT NULL
),
mx AS (SELECT max(day) AS mday FROM ev),
w AS (
  SELECT user_id, event_id,
         v * exp(-{_DECAY_LAMBDA!r} * (mday - day)) AS dv
  FROM ev CROSS JOIN mx
),
run AS (
  SELECT user_id,
         sum(dv) OVER (PARTITION BY user_id ORDER BY event_id) AS s,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM w
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       round(s, 6) AS decayed_value
FROM run WHERE rn = n
""",
)
def q_user_value_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user value Σ value·exp(−λ·age_days) — the
    time-decayed LTV / engagement score behind churn targeting and
    recommendation freshness, where yesterday's purchase outweighs last
    quarter's.  Ages are exact integer days off the data-derived corpus
    end (1-row broadcast); each event's decayed contribution is one exp
    on identical doubles, and the per-user total folds through an
    event_id-ORDERED window (identical IEEE op order both engines —
    never a partition-order float sum).  The window partitions on the
    sf-scaling user key, so no task ever sorts more than one user's
    events."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("v"),
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    )
    mx = ev.agg(F.max("day").alias("mday"))
    w = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "event_id",
        (
            F.col("v")
            * F.exp(-F.lit(_DECAY_LAMBDA) * (F.col("mday") - F.col("day")))
        ).alias("dv"),
    )
    wu = W.partitionBy("user_id").orderBy("event_id")
    run = w.select(
        "user_id",
        F.sum("dv").over(wu.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("s"),
        F.row_number().over(wu).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n"),
    )
    return run.filter(F.col("rn") == F.col("n")).select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.round("s", 6).alias("decayed_value"),
    )


# --- per-user behavioral entropy ----------------------------------------------


@query(
    "user_event_entropy",
    """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_id, event_type, c,
         sum(c * ln(CAST(c AS DOUBLE))) OVER (PARTITION BY user_id
                                              ORDER BY event_type) AS clc,
         sum(c) OVER (PARTITION BY user_id) AS n,
         row_number() OVER (PARTITION BY user_id ORDER BY event_type) AS rn,
         count(*) OVER (PARTITION BY user_id) AS k
  FROM c
)
SELECT user_id, CAST(n AS BIGINT) AS n_events, CAST(k AS INT) AS n_types,
       round(ln(CAST(n AS DOUBLE)) - clc / n, 6) AS entropy
FROM t WHERE rn = k
""",
)
def q_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix, via the exact
    identity H = ln(n) − (Σ c·ln c)/n over integer counts — the
    behavioral-diversity score (bots and single-purpose accounts sit
    near 0; organic users spread).  One keyed (user, type) count, then
    everything runs on the ≤|types|-per-user frame with the float fold
    ORDERED by type — bounded per-user windows on the high-cardinality
    user key, no single-task stage anywhere."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wu = W.partitionBy("user_id").orderBy("event_type")
    t = c.select(
        "user_id",
        F.sum(F.col("c") * F.log(F.col("c").cast("double")))
        .over(wu.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("clc"),
        F.sum("c").over(W.partitionBy("user_id")).alias("n"),
        F.row_number().over(wu).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("k"),
    )
    return t.filter(F.col("rn") == F.col("k")).select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("int").alias("n_types"),
        F.round(
            F.log(F.col("n").cast("double")) - F.col("clc") / F.col("n"), 6
        ).alias("entropy"),
    )


# --- log-rank test: do day-one-engaged users convert differently? --------------


@query(
    "logrank_test_conversion",
    f"""
WITH {_SURV_LIFE_SQL},
g AS (SELECT dur,
             CAST(sum(grp) AS BIGINT) AS c1,
             CAST(sum(1 - grp) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS dh,
             CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS dl
      FROM life GROUP BY 1),
r AS (SELECT dur, dh, dl,
             sum(c1) OVER () AS nn1,
             sum(c0) OVER () AS nn0,
             coalesce(sum(c1) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS b1,
             coalesce(sum(c0) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS b0
      FROM g),
evt AS (SELECT dur, dh, dh + dl AS dt,
               nn1 - b1 AS n1, (nn1 - b1) + (nn0 - b0) AS nt, nn1, nn0
        FROM r WHERE dh + dl > 0),
fold AS (SELECT nn1, nn0,
              sum(dh) OVER (ORDER BY dur) AS o1,
              sum(dt * (CAST(n1 AS DOUBLE) / nt)) OVER (ORDER BY dur) AS e1,
              sum(CASE WHEN nt > 1 THEN
                    dt * (CAST(n1 AS DOUBLE) / nt)
                       * (1.0 - CAST(n1 AS DOUBLE) / nt)
                       * (CAST(nt - dt AS DOUBLE) / (nt - 1))
                  ELSE 0.0 END) OVER (ORDER BY dur) AS vv,
              row_number() OVER (ORDER BY dur) AS rn,
              count(*) OVER () AS k
         FROM evt)
SELECT CAST(nn1 AS BIGINT) AS n_engaged,
       CAST(nn0 AS BIGINT) AS n_casual,
       CAST(o1 AS BIGINT) AS observed_engaged,
       round(e1, 6) AS expected_engaged,
       round(vv, 6) AS variance,
       CASE WHEN vv > 0 THEN round((o1 - e1) / sqrt(vv), 6) END AS z_score
FROM fold WHERE rn = k
""",
)
def q_logrank_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the time-to-conversion
    curves of day-one-engaged users (>= {_ENGAGED_DAY1_EVENTS} events on
    their first day) against the rest — THE standard two-sample
    censored-survival test, the one question every KM plot provokes
    ("do the curves actually differ?").  Z = (O1 - E1)/sqrt(V) with O1
    the observed engaged-cohort conversions, E1 = sum d_t*n1_t/n_t the
    expectation under the null, and V the hypergeometric variance sum.
    Risk sets are exact integers from ordered cumulatives over the
    duration-grouped frame (same construction as
    kaplan_meier_conversion); the two float sums fold through ORDERED
    windows (identical IEEE op order both engines) and the final z is
    one subtraction, one IEEE-correctly-rounded sqrt, and one division
    on identical doubles.  Scale shape: two user-keyed aggs, then
    everything runs on the <=|days-span| duration frame."""
    life = _conversion_life(spark, sf_dir)
    g = life.groupBy("dur").agg(
        F.sum("grp").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("grp")).cast("long").alias("c0"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("dh"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("dl"),
    )
    w_all = W.partitionBy()
    w_before = W.partitionBy().orderBy("dur").rowsBetween(
        W.unboundedPreceding, -1
    )
    r = g.select(
        "dur",
        "dh",
        "dl",
        F.sum("c1").over(w_all).alias("nn1"),
        F.sum("c0").over(w_all).alias("nn0"),
        F.coalesce(F.sum("c1").over(w_before), F.lit(0)).alias("b1"),
        F.coalesce(F.sum("c0").over(w_before), F.lit(0)).alias("b0"),
    )
    evt = r.filter(F.col("dh") + F.col("dl") > 0).select(
        "dur",
        "dh",
        (F.col("dh") + F.col("dl")).alias("dt"),
        (F.col("nn1") - F.col("b1")).alias("n1"),
        ((F.col("nn1") - F.col("b1")) + (F.col("nn0") - F.col("b0"))).alias(
            "nt"
        ),
        "nn1",
        "nn0",
    )
    w_run = W.partitionBy().orderBy("dur").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_ord = W.partitionBy().orderBy("dur")
    frac = F.col("n1").cast("double") / F.col("nt")
    fold = evt.select(
        "nn1",
        "nn0",
        F.sum("dh").over(w_run).alias("o1"),
        F.sum(F.col("dt") * frac).over(w_run).alias("e1"),
        F.sum(
            F.when(
                F.col("nt") > 1,
                F.col("dt")
                * frac
                * (F.lit(1.0) - frac)
                * (
                    (F.col("nt") - F.col("dt")).cast("double")
                    / (F.col("nt") - 1)
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(w_run)
        .alias("vv"),
        F.row_number().over(w_ord).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    return fold.filter(F.col("rn") == F.col("k")).select(
        F.col("nn1").cast("long").alias("n_engaged"),
        F.col("nn0").cast("long").alias("n_casual"),
        F.col("o1").cast("long").alias("observed_engaged"),
        F.round("e1", 6).alias("expected_engaged"),
        F.round("vv", 6).alias("variance"),
        F.when(
            F.col("vv") > 0,
            F.round((F.col("o1") - F.col("e1")) / F.sqrt("vv"), 6),
        ).alias("z_score"),
    )


# --- multiple linear regression: value ~ hour + weekday (closed form) ----------


@query(
    "ols_value_hour_dow",
    """
WITH e AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS h,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS w,
         CAST(value AS DECIMAL(18,2)) AS y
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(h) AS BIGINT) AS s1,
         CAST(sum(w) AS BIGINT) AS s2,
         CAST(sum(h * h) AS BIGINT) AS s11,
         CAST(sum(w * w) AS BIGINT) AS s22,
         CAST(sum(h * w) AS BIGINT) AS s12,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(h * y) AS DOUBLE) AS s1y,
         CAST(sum(w * y) AS DOUBLE) AS s2y,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM e GROUP BY 1
),
d AS (
  SELECT event_type, n, sy, s1y, s2y, syy,
         CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
           - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
           + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)
           AS det,
         sy * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
           - CAST(s1 AS DOUBLE) * (s1y * s22 - CAST(s12 AS DOUBLE) * s2y)
           + CAST(s2 AS DOUBLE) * (s1y * s12 - CAST(s11 AS DOUBLE) * s2y)
           AS det0,
         CAST(n AS DOUBLE) * (s1y * s22 - CAST(s12 AS DOUBLE) * s2y)
           - sy * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
           + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - s1y * s2)
           AS det1,
         CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y - s1y * s12)
           - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - s1y * s2)
           + sy * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)
           AS det2
  FROM m
),
b AS (
  SELECT event_type, n, sy, s1y, s2y, syy,
         det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
  FROM d WHERE det <> 0
)
SELECT event_type,
       n AS n_events,
       round(b0, 6) AS beta0,
       round(b1, 6) AS beta_hour,
       round(b2, 6) AS beta_dow,
       CASE WHEN syy - sy * (sy / n) > 0
            THEN round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                             / (syy - sy * (sy / n)), 6)
       END AS r2
FROM b
""",
)
def q_ols_value_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression value ~ hour-of-day + weekday per event
    type, solved in closed form from the 3x3 normal equations by
    Cramer's rule — the workhorse "is there a time-of-day effect after
    controlling for weekday?" fit that a streaming pipeline computes
    from sufficient statistics rather than an iterative solver.  Every
    moment is exact (BIGINT for the integer regressors, DECIMAL cents
    for value) out of ONE keyed aggregation; the determinants are then
    fixed-shape arithmetic on identical doubles (same expression tree
    both engines, so bit-stable), and each beta is one division.  R^2
    comes from the residual identity SSE = Syy - b.t (no second pass).
    hour/weekday derive from the epoch integer arithmetic shared with
    the oracle (1970-01-01 anchored Thursday), never engine date
    functions.  Scale shape: one map-side-combinable agg to a 5-row
    frame; everything after is per-row arithmetic."""
    ts = F.col("ts").cast("long")
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor((ts % 86400) / 3600).cast("long").alias("h"),
            ((F.floor(ts / 86400).cast("long") + 4) % 7).alias("w"),
            F.col("value").cast("decimal(18,2)").alias("y"),
        )
    )
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("h").cast("long").alias("s1"),
        F.sum("w").cast("long").alias("s2"),
        F.sum(F.col("h") * F.col("h")).cast("long").alias("s11"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("s22"),
        F.sum(F.col("h") * F.col("w")).cast("long").alias("s12"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("h") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("w") * F.col("y")).cast("double").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    nD = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s11 = F.col("s11").cast("double")
    s22 = F.col("s22").cast("double")
    s12 = F.col("s12").cast("double")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    d = m.select(
        "event_type",
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        (
            nD * (s11 * F.col("s22") - s12 * F.col("s12"))
            - s1 * (s1 * F.col("s22") - s12 * F.col("s2"))
            + s2 * (s1 * F.col("s12") - s11 * F.col("s2"))
        ).alias("det"),
        (
            sy * (s11 * F.col("s22") - s12 * F.col("s12"))
            - s1 * (s1y * F.col("s22") - s12 * s2y)
            + s2 * (s1y * F.col("s12") - s11 * s2y)
        ).alias("det0"),
        (
            nD * (s1y * F.col("s22") - s12 * s2y)
            - sy * (s1 * F.col("s22") - s12 * F.col("s2"))
            + s2 * (s1 * s2y - s1y * F.col("s2"))
        ).alias("det1"),
        (
            nD * (s11 * s2y - s1y * F.col("s12"))
            - s1 * (s1 * s2y - s1y * F.col("s2"))
            + sy * (s1 * F.col("s12") - s11 * F.col("s2"))
        ).alias("det2"),
    )
    b = d.filter(F.col("det") != 0).select(
        "event_type",
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        (F.col("det0") / F.col("det")).alias("b0"),
        (F.col("det1") / F.col("det")).alias("b1"),
        (F.col("det2") / F.col("det")).alias("b2"),
    )
    sst = F.col("syy") - F.col("sy") * (F.col("sy") / F.col("n"))
    sse = (
        F.col("syy")
        - F.col("b0") * F.col("sy")
        - F.col("b1") * F.col("s1y")
        - F.col("b2") * F.col("s2y")
    )
    return b.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round("b0", 6).alias("beta0"),
        F.round("b1", 6).alias("beta_hour"),
        F.round("b2", 6).alias("beta_dow"),
        F.when(sst > 0, F.round(F.lit(1.0) - sse / sst, 6)).alias("r2"),
    )


# --- offline changepoint: best single split of the daily value series ----------


@query(
    "changepoint_daily_value",
    """
WITH daily AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
p AS (
  SELECT day, x,
         sum(x) OVER (ORDER BY day) AS sl,
         row_number() OVER (ORDER BY day) AS i,
         sum(x) OVER () AS s,
         count(*) OVER () AS k
  FROM daily
),
o AS (
  SELECT day, i, k, sl, s,
         CAST(k AS DOUBLE) * CAST(sl AS DOUBLE)
           - CAST(i AS DOUBLE) * CAST(s AS DOUBLE) AS d,
         CAST(i AS DOUBLE) * (k - i) AS den
  FROM p WHERE i < k
),
best AS (
  SELECT day, i, k, sl, s,
         row_number() OVER (ORDER BY d * d / den DESC, day) AS rn
  FROM o
)
SELECT day AS split_day,
       CAST(k AS BIGINT) AS n_days,
       CAST(i AS BIGINT) AS n_days_before,
       round(CAST(sl AS DOUBLE) / i, 6) AS mean_before,
       round(CAST(s - sl AS DOUBLE) / (k - i), 6) AS mean_after
FROM best WHERE rn = 1
""",
)
def q_changepoint_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint detection — the single best split of the
    daily total-value series by binary segmentation: the split
    maximizing the between-segment sum of squares, equivalently
    g(t) = (k·S_t − t·S)² / (t·(k−t)) over prefix sums (the first step
    of the classic binary-segmentation / CUSUM-offline recursion; the
    streaming CUSUM monitor is its online sibling).  Prefix sums are
    exact DECIMAL through an ordered window, so every g(t) is computed
    from identical exact inputs by an identical double expression —
    per-row values are bit-equal across engines and the argmax (with
    the day ASC tie-break) picks the same row; only the two reported
    segment means divide.  Scale shape: one keyed daily agg, then
    everything runs on the calendar-bounded day frame."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    daily = ev.groupBy("day").agg(
        F.sum("v").cast("decimal(18,2)").alias("x")
    )
    w_run = W.partitionBy().orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    p = daily.select(
        "day",
        F.sum("x").over(w_run).alias("sl"),
        F.row_number().over(W.partitionBy().orderBy("day")).alias("i"),
        F.sum("x").over(w_all).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    o = p.filter(F.col("i") < F.col("k")).select(
        "day",
        "i",
        "k",
        "sl",
        "s",
        (
            F.col("k").cast("double") * F.col("sl").cast("double")
            - F.col("i").cast("double") * F.col("s").cast("double")
        ).alias("d"),
        (F.col("i").cast("double") * (F.col("k") - F.col("i"))).alias("den"),
    )
    best = o.select(
        "day",
        "i",
        "k",
        "sl",
        "s",
        F.row_number()
        .over(
            W.partitionBy().orderBy(
                (F.col("d") * F.col("d") / F.col("den")).desc(), F.col("day")
            )
        )
        .alias("rn"),
    )
    return best.filter(F.col("rn") == 1).select(
        F.col("day").alias("split_day"),
        F.col("k").cast("long").alias("n_days"),
        F.col("i").cast("long").alias("n_days_before"),
        F.round(F.col("sl").cast("double") / F.col("i"), 6).alias(
            "mean_before"
        ),
        F.round(
            (F.col("s") - F.col("sl")).cast("double")
            / (F.col("k") - F.col("i")),
            6,
        ).alias("mean_after"),
    )


# --- cohort LTV matrix (30-day periods) -----------------------------------------

#: cohort/age period length in days — epoch-day buckets, not calendar
#: months, so both engines share exact integer arithmetic
_LTV_PERIOD_DAYS = 30


@query(
    "cohort_ltv_matrix",
    f"""
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE value IS NOT NULL
),
u0 AS (
  SELECT user_id, min(day) // {_LTV_PERIOD_DAYS} AS cohort
  FROM ev GROUP BY 1
),
ua AS (
  SELECT e.user_id, u0.cohort,
         e.day // {_LTV_PERIOD_DAYS} - u0.cohort AS age,
         CAST(sum(e.v) AS DECIMAL(18,2)) AS v
  FROM ev e JOIN u0 ON e.user_id = u0.user_id
  GROUP BY 1, 2, 3
),
cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM u0 GROUP BY 1),
ca AS (
  SELECT cohort, age, CAST(sum(v) AS DECIMAL(18,2)) AS v
  FROM ua GROUP BY 1, 2
),
cum AS (
  SELECT cohort, age,
         CAST(sum(v) OVER (PARTITION BY cohort ORDER BY age)
              AS DECIMAL(18,2)) AS cum_v
  FROM ca
)
SELECT CAST(c.cohort AS BIGINT) AS cohort_period,
       CAST(c.age AS BIGINT) AS age_periods,
       s.n_users,
       round(CAST(c.cum_v AS DOUBLE) / s.n_users, 6) AS cum_value_per_user
FROM cum c JOIN cs s ON c.cohort = s.cohort
""",
)
def q_cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort lifetime-value matrix: users grouped by signup period
    (first-event epoch-day // {_LTV_PERIOD_DAYS}), each cohort's
    CUMULATIVE value per user tracked across age periods — the
    triangle-shaped table every growth team reads ("do newer cohorts
    monetize faster?"), the value-grain sibling of cohort_retention.
    Value sums stay exact DECIMAL through the per-(user, age) and
    per-(cohort, age) aggs and the cohort-ordered cumulative window
    (decimal addition is order-free, no float folds anywhere); the
    single division by cohort size is the only float op.  Scale shape:
    two user-keyed aggs, then everything runs on the
    ≤|cohorts|×|ages| calendar-bounded frame."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.floor(F.col("ts").cast("long") / 86400)
            .cast("long")
            .alias("day"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    u0 = ev.groupBy("user_id").agg(
        F.floor(F.min("day") / _LTV_PERIOD_DAYS).cast("long").alias("cohort")
    )
    ua = (
        ev.join(u0, "user_id")
        .groupBy(
            "user_id",
            "cohort",
            (
                F.floor(F.col("day") / _LTV_PERIOD_DAYS).cast("long")
                - F.col("cohort")
            ).alias("age"),
        )
        .agg(F.sum("v").cast("decimal(18,2)").alias("v"))
    )
    cs = u0.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    ca = ua.groupBy("cohort", "age").agg(
        F.sum("v").cast("decimal(18,2)").alias("v")
    )
    w_cum = W.partitionBy("cohort").orderBy("age").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = ca.select(
        "cohort",
        "age",
        F.sum("v").over(w_cum).cast("decimal(18,2)").alias("cum_v"),
    )
    return cum.join(cs, "cohort").select(
        F.col("cohort").cast("long").alias("cohort_period"),
        F.col("age").cast("long").alias("age_periods"),
        "n_users",
        F.round(
            F.col("cum_v").cast("double") / F.col("n_users"), 6
        ).alias("cum_value_per_user"),
    )


# --- maximum drawdown of the cumulative daily value series ----------------------


@query(
    "max_drawdown_daily",
    """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
r AS (
  SELECT event_type, day,
         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day)
              AS DECIMAL(18,2)) AS run
  FROM daily
),
dd AS (
  SELECT event_type, day, run,
         CAST(max(run) OVER (PARTITION BY event_type ORDER BY day)
              AS DECIMAL(18,2)) AS peak
  FROM r
),
best AS (
  SELECT event_type, day, run, peak, peak - run AS draw,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY peak - run DESC, day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS k
  FROM dd
)
SELECT event_type,
       CAST(k AS BIGINT) AS n_days,
       CAST(day AS BIGINT) AS trough_day,
       CAST(peak AS DOUBLE) AS peak_value,
       CAST(draw AS DOUBLE) AS max_drawdown
FROM best WHERE rn = 1
""",
)
def q_max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each type's cumulative daily value series —
    the risk metric behind "how far below its best did this stream ever
    fall", here reading engagement/revenue slumps.  EVERYTHING is exact
    DECIMAL: the running total, the running peak (a max of exact
    decimals), the drawdown subtraction, and the argmax with the
    day-ASC tie-break, so both engines pick the identical row with no
    float ops at all until the two output casts.  Scale shape: one
    keyed daily agg, then per-type ordered windows over the
    calendar-bounded day frame."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 86400)
            .cast("long")
            .alias("day"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.sum("v").cast("decimal(18,2)").alias("x")
    )
    w_run = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = daily.select(
        "event_type",
        "day",
        F.sum("x").over(w_run).cast("decimal(18,2)").alias("run"),
    )
    dd = r.select(
        "event_type",
        "day",
        "run",
        F.max("run").over(w_run).cast("decimal(18,2)").alias("peak"),
    )
    draw = F.col("peak") - F.col("run")
    best = dd.select(
        "event_type",
        "day",
        "run",
        "peak",
        draw.alias("draw"),
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(draw.desc(), F.col("day"))
        )
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("k"),
    )
    return best.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("k").cast("long").alias("n_days"),
        F.col("day").cast("long").alias("trough_day"),
        F.col("peak").cast("double").alias("peak_value"),
        F.col("draw").cast("double").alias("max_drawdown"),
    )


# --- hourly coverage audit ------------------------------------------------------


@query(
    "missing_hours_report",
    """
WITH h AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour
  FROM events
),
g AS (
  SELECT event_type,
         min(hour) AS h0,
         max(hour) AS h1,
         CAST(count(DISTINCT hour) AS BIGINT) AS observed
  FROM h GROUP BY 1
)
SELECT event_type,
       CAST(h0 AS BIGINT) AS first_hour,
       CAST(h1 AS BIGINT) AS last_hour,
       CAST(h1 - h0 + 1 AS BIGINT) AS expected_hours,
       observed AS observed_hours,
       CAST(h1 - h0 + 1 - observed AS BIGINT) AS missing_hours,
       round(CAST(observed AS DOUBLE) / (h1 - h0 + 1), 6) AS coverage
FROM g
""",
)
def q_missing_hours_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly coverage audit per event type: expected hours (the span
    between the type's first and last active hour) vs distinct observed
    hours — the ingestion-gap detector that catches a dead collector or
    a dropped partition before any downstream metric silently dips.
    One scan, one keyed (min, max, exact distinct) agg — the span
    arithmetic needs no calendar generation at all; exact integers plus
    one coverage division."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("hour"),
    )
    g = ev.groupBy("event_type").agg(
        F.min("hour").alias("h0"),
        F.max("hour").alias("h1"),
        F.count_distinct(F.col("hour")).cast("long").alias("observed"),
    )
    span = F.col("h1") - F.col("h0") + 1
    return g.select(
        "event_type",
        F.col("h0").cast("long").alias("first_hour"),
        F.col("h1").cast("long").alias("last_hour"),
        span.cast("long").alias("expected_hours"),
        F.col("observed").alias("observed_hours"),
        (span - F.col("observed")).cast("long").alias("missing_hours"),
        F.round(F.col("observed").cast("double") / span, 6).alias("coverage"),
    )


# --- fulfillment latency percentiles by priority --------------------------------


@query(
    "ship_latency_by_priority",
    """
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400
           - CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400 AS lat
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
g AS (
  SELECT priority, lat, CAST(count(*) AS BIGINT) AS c
  FROM lat GROUP BY 1, 2
),
cum AS (
  SELECT priority, lat, c,
         sum(c) OVER (PARTITION BY priority ORDER BY lat) AS cu,
         sum(c) OVER (PARTITION BY priority) AS n,
         CAST(sum(lat * c) OVER (PARTITION BY priority) AS BIGINT) AS s,
         min(lat) OVER (PARTITION BY priority) AS lo,
         max(lat) OVER (PARTITION BY priority) AS hi
  FROM g
)
SELECT priority,
       CAST(n AS BIGINT) AS n_lines,
       CAST(lo AS BIGINT) AS min_days,
       CAST(hi AS BIGINT) AS max_days,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_days,
       CAST(min(lat) AS BIGINT) AS p50_days
FROM cum
WHERE 2 * cu >= n
GROUP BY 1, 2, 3, 4, 5
""",
)
def q_ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per order priority: count, min/max, mean,
    and the EXACT median — the fulfillment-SLA readout.  Latencies are
    exact integer day differences off one keyed join; the median is the
    smallest latency whose cumulative count reaches half the group
    (2·cum ≥ n avoids any float quantile), computed on the per-
    (priority, latency) grouped frame — bounded by the calendar span,
    never per line.  The only float op is the mean's single division.
    Priorities are a fixed 5-value domain, so every window partitions
    on a bounded key over an already-aggregated frame."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_shipdate").cast("long") / 86400)
        .cast("long")
        .alias("sd"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_orderdate").cast("long") / 86400)
        .cast("long")
        .alias("od"),
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("sd") - F.col("od")).alias("lat"),
    )
    g = lat.groupBy("priority", "lat").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wp = W.partitionBy("priority")
    w_cum = wp.orderBy("lat").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = g.select(
        "priority",
        "lat",
        "c",
        F.sum("c").over(w_cum).alias("cu"),
        F.sum("c").over(wp).alias("n"),
        F.sum(F.col("lat") * F.col("c")).over(wp).cast("long").alias("s"),
        F.min("lat").over(wp).alias("lo"),
        F.max("lat").over(wp).alias("hi"),
    )
    return (
        cum.filter(2 * F.col("cu") >= F.col("n"))
        .groupBy(
            "priority",
            F.col("n").cast("long").alias("n_lines"),
            F.col("lo").cast("long").alias("min_days"),
            F.col("hi").cast("long").alias("max_days"),
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias(
                "mean_days"
            ),
        )
        .agg(F.min("lat").cast("long").alias("p50_days"))
    )


# --- discount effectiveness profile ---------------------------------------------


@query(
    "discount_effect_profile",
    """
SELECT CAST(CAST(l_discount AS DECIMAL(3,2)) AS DOUBLE) AS discount,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 6)
         AS avg_quantity,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
            AS DOUBLE) AS discounted_revenue
FROM lineitem
GROUP BY 1
""",
)
def q_discount_effect_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and basket-size profile per discount level — the pricing
    team's "does a deeper discount actually move volume?" table.  The
    11-value discount domain becomes the group key as an exact
    DECIMAL(3,2) (casting the stored double on BOTH engines rounds to
    the same decimal, so 0.05's binary representation can never split
    the groups), revenue stays exact DECIMAL through the (1−d) multiply
    and sum, and the only float ops are the final casts/division."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(3,2)")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - disc
    )
    return li.groupBy(disc.cast("double").alias("discount")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(
            F.sum(F.col("l_quantity").cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quantity"),
        F.sum(rev).cast("double").alias("discounted_revenue"),
    )


# --- order size histogram --------------------------------------------------------


@query(
    "order_size_histogram",
    """
WITH s AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS size
  FROM lineitem GROUP BY 1
)
SELECT CAST(size AS BIGINT) AS order_size,
       CAST(count(*) AS BIGINT) AS n_orders
FROM s GROUP BY 1
""",
)
def q_order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order histogram (the basket-size distribution behind
    the MINING_MAX_BASKET cap constant): a double aggregation — one
    keyed count per order, then one count per size.  Output is bounded
    by the generator's max basket (≤7 on TPC-H shapes); everything
    exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return s.groupBy(F.col("size").cast("long").alias("order_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


# --- declarative constraint audit (dbt-test analog) -------------------------------


@query(
    "lineitem_dq_checks",
    """
WITH j AS (
  SELECT l.l_quantity, l.l_discount, l.l_tax, l.l_extendedprice,
         CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400 AS sd,
         CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400 AS od,
         o.o_orderkey AS ok
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(coalesce(sum(CASE WHEN l_quantity IS NULL OR l_quantity <= 0
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_qty,
         CAST(coalesce(sum(CASE WHEN l_discount IS NULL
                         OR l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_disc,
         CAST(coalesce(sum(CASE WHEN l_tax IS NULL OR l_tax < 0 OR l_tax > 0.08
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_tax,
         CAST(coalesce(sum(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_price,
         CAST(coalesce(sum(CASE WHEN sd < od THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_ship,
         CAST(coalesce(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS v_orphan
  FROM j
)
SELECT * FROM (
  SELECT 'quantity_positive' AS rule, n_rows, v_qty AS n_violations FROM agg
  UNION ALL
  SELECT 'discount_in_range', n_rows, v_disc FROM agg
  UNION ALL
  SELECT 'tax_in_range', n_rows, v_tax FROM agg
  UNION ALL
  SELECT 'price_positive', n_rows, v_price FROM agg
  UNION ALL
  SELECT 'ship_after_order', n_rows, v_ship FROM agg
  UNION ALL
  SELECT 'order_fk_exists', n_rows, v_orphan FROM agg
)
""",
)
def q_lineitem_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint audit over lineitem (the dbt-tests /
    Great-Expectations analog): six rules — positivity, domain ranges,
    ship-after-order causality, and FK existence — evaluated in ONE
    scan + one keyed left join, emitted as a fixed 6-row (rule, n_rows,
    n_violations) report that never returns empty (a clean table is six
    visible zero rows).  The causality rule is a real finder on the
    synthetic fixtures (shipdate is drawn independently of orderdate).
    All counts exact integers; the 6-way unpivot runs on the 1-row
    aggregate."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        "l_discount",
        "l_tax",
        "l_extendedprice",
        F.floor(F.col("l_shipdate").cast("long") / 86400)
        .cast("long")
        .alias("sd"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.floor(F.col("o_orderdate").cast("long") / 86400)
        .cast("long")
        .alias("od"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey, "left")

    def v(cond) -> F.Column:
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast(
            "long"
        )

    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        v(F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0)).alias(
            "v_qty"
        ),
        v(
            F.col("l_discount").isNull()
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 0.1)
        ).alias("v_disc"),
        v(
            F.col("l_tax").isNull()
            | (F.col("l_tax") < 0)
            | (F.col("l_tax") > 0.08)
        ).alias("v_tax"),
        v(
            F.col("l_extendedprice").isNull()
            | (F.col("l_extendedprice") <= 0)
        ).alias("v_price"),
        v(F.col("sd") < F.col("od")).alias("v_ship"),
        v(F.col("o_orderkey").isNull()).alias("v_orphan"),
    )
    return agg.select(
        F.expr(
            "stack(6,"
            " 'quantity_positive', v_qty,"
            " 'discount_in_range', v_disc,"
            " 'tax_in_range', v_tax,"
            " 'price_positive', v_price,"
            " 'ship_after_order', v_ship,"
            " 'order_fk_exists', v_orphan)"
            " AS (rule, n_violations)"
        ),
        "n_rows",
    ).select("rule", "n_rows", "n_violations")
