"""Analytics query catalog (SURVEY.md §2.4-2.6, §3 EP2/EP3).

Each query is a function (spark, sf_dir) -> DataFrame over the
driver testdata tables, paired with an ANSI-SQL oracle string in
ORACLE_SQL that DuckDB runs on the same parquet for the correctness
gate. Reference-table mapping (SURVEY.md §5): customers->customer,
products->part, orders->orders, order_items->lineitem,
monitoring/streaming->events.

Determinism rules applied throughout (both engines):
- every aggregated DOUBLE is round(x, 2) (or 6 for similarity) so
  floating sum-order differences can't flip the value hash;
- every LIMIT/top-k orders by the ROUNDED measure plus a unique key
  tiebreak, so rank selection is identical;
- session timezone pinned UTC (session conf, see session.py) so
  timestamp bucketing matches DuckDB's UTC-naive timestamps;
- integer-typed aggregates are kept BIGINT on both sides (DuckDB
  sum(int) widens to HUGEINT — the oracles cast it back).

Scale notes are on each query; the common theme: filter and project
before joining, pre-aggregate fact tables before joining dimensions
(one shuffle of partial aggregates instead of raw rows), broadcast
every dimension side, and let AQE handle skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simpleetlpipeline_spark.io import read_table
from simpleetlpipeline_spark.operators.dates import (
    epoch_day,
    label_of_month_start,
    month_label,
    month_start,
    sql_epoch_day,
    sql_month_label,
)
from simpleetlpipeline_spark.operators.joins import orphan_rows, rollup_update

# Reference order_status 'Completed' (main.py:654,681) maps to TPC-H
# o_orderstatus 'F' (fulfilled) on the testdata.
COMPLETED = "F"


def top_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/J1: grouped top-k over a 3-table star join (main.py:672-685).

    SELECT product, SUM(qty), SUM(revenue) ... JOIN x2 ... ORDER BY
    revenue DESC LIMIT 10. Scale: orders is filtered and projected
    to its key before the join; part (dim) is broadcast; Spark plans
    TakeOrderedAndProject for the final top-k, so only 10 rows per
    partition reach the driver-side merge.
    """
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .select("o_orderkey")
    )
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            F.sum("l_quantity").alias("total_quantity_sold"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("total_revenue"),
        )
        .orderBy(F.desc("total_revenue"), F.asc("p_partkey"))
        .limit(10)
    )


def monthly_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/F8/O1: time-bucketed rollup (main.py:648-657).

    strftime('%Y-%m') -> the timezone-proof month_label idiom
    (operators/dates.py; the reference's SQLite strftime over TEXT
    dates is naive-calendar, which is exactly what the idiom pins);
    hash aggregate with map-side partial combine; the status filter
    is pushed to the parquet scan.
    """
    return (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .groupBy(month_start("o_orderdate").alias("__m"))
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
        .select(label_of_month_start("__m").alias("month"),
                "total_orders", "total_revenue")
        .orderBy("month")
    )


def segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O2: segment aggregate (main.py:660-669)."""
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("customer_segment"))
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy(F.desc("total_acctbal"))
    )


def customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A4: the decorrelated per-customer UPDATE rollup
    (main.py:612-628). Aggregate orders first (tiny partials), then
    LEFT JOIN back to the dimension and COALESCE absent groups to 0.
    """
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    completed = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == COMPLETED)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    return rollup_update(
        customer, completed,
        dim_key="c_custkey", fact_key="o_custkey",
        count_col="o_orderkey", sum_col="o_totalprice",
        count_alias="total_orders", sum_alias="total_spent",
    )


def orphan_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: referential-integrity anti-join count (SURVEY.md §2.4).

    The reference declares FKs it never enforces (372 orphans in its
    committed DB); this makes the check a first-class operator.
    """
    lineitem = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = read_table(spark, sf_dir, "orders")
    return (
        orphan_rows(lineitem, orders, "l_orderkey", "o_orderkey")
        .agg(F.count(F.lit(1)).alias("orphan_count"))
    )


def order_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6: the reference's +-0.01 money-tolerance consistency
    check (main.py:483-484,496-497), mapped to testdata as
    |o_totalprice - SUM(line net incl. tax)| < 0.01 per order.
    Returns one row of (consistent, total) counts.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    recomputed = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("recomputed"))
    )
    joined = orders.join(
        recomputed, orders.o_orderkey == recomputed.l_orderkey, "left")
    tol_ok = F.abs(F.col("o_totalprice") - F.coalesce(F.col("recomputed"), F.lit(0.0))) < 0.01
    return joined.agg(
        F.count(F.when(tol_ok, F.lit(1))).alias("consistent_orders"),
        F.count(F.lit(1)).alias("total_orders"),
    )


def transform_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F4 composition mapped to customer: trim string columns,
    keep non-negative balances (reference main.py:428-430,477-480).
    """
    return (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 0)
        .select(
            "c_custkey",
            F.trim("c_name").alias("c_name"),
            F.trim("c_mktsegment").alias("customer_segment"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
    )


def transform_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6/F3 composition mapped to part: positive-price filter,
    clamp size floor, derive a rounded per-unit price (reference
    main.py:461-468 semantics on testdata columns).
    """
    return (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice") > 0)
        .select(
            "p_partkey",
            F.trim("p_name").alias("p_name"),
            "p_brand",
            F.greatest(F.lit(0), F.col("p_size")).alias("p_size"),
            F.round("p_retailprice", 2).alias("p_retailprice"),
            # floor-truncate instead of round: division results land on
            # .xx5 boundaries where Spark (binary HALF_UP) and DuckDB
            # (decimal-rendering) round differently; floor(x*100)/100
            # is bit-deterministic in both engines.
            (F.floor(F.col("p_retailprice") / F.greatest(F.lit(1), F.col("p_size")) * 100) / 100)
            .alias("price_per_size"),
        )
    )


def quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7-A10: one-row data-quality profile of lineitem (reference
    main.py:50-76): row count, per-column nulls (totalled),
    duplicate rows, 0-100 quality score — two aggregates total,
    fully lazy, no per-column jobs.
    """
    df = read_table(spark, sf_dir, "lineitem")
    ncols = len(df.columns)
    null_sum = None
    for c in df.columns:
        term = F.col(c).isNull().cast("long")
        null_sum = term if null_sum is None else null_sum + term
    stats = df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(null_sum).alias("total_nulls"),
    )
    distinct = df.distinct().agg(F.count(F.lit(1)).alias("distinct_rows"))
    cells = F.col("row_count") * ncols
    dup = F.col("row_count") - F.col("distinct_rows")
    return (
        stats.crossJoin(distinct)
        .select(
            F.lit("lineitem").alias("table_name"),
            F.col("row_count"),
            F.lit(ncols).alias("column_count"),
            F.coalesce(F.col("total_nulls"), F.lit(0)).alias("total_nulls"),
            dup.alias("duplicate_rows"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    (cells - F.coalesce(F.col("total_nulls"), F.lit(0)) - dup * ncols)
                    / cells.cast("double") * 100,
                ), 2,
            ).alias("quality_score"),
        )
    )


def validation_rules(spark: SparkSession, sf_dir: str,
                     config=None) -> DataFrame:
    """Business-rule validation (reference main.py:874-908: tolerance,
    future-date, price-inversion, email-format) mapped to testdata:
    each rule returns (rule_name, violation_count); counts only,
    rows are never dropped — report-only semantics (F10/F11).

    With an ETLConfig (e.g. ETLConfig.from_yaml over the reference's
    etl_config.yaml), the config's business-rule tolerance drives an
    additional total_mismatch rule — the YAML's
    valid_total_calculation (y:79-81) on the testdata star:
    |o_totalprice - recomputed line net| >= tolerance. Default (no
    config) output is the pinned 4-row gate shape.
    """
    customer = read_table(spark, sf_dir, "customer")
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")

    def one(name: str, df: DataFrame, cond) -> DataFrame:
        return df.agg(
            F.lit(name).alias("rule_name"),
            F.count(F.when(cond, F.lit(1))).alias("violation_count"),
        )

    ship_before_order = (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    out = (
        one("negative_acctbal", customer, F.col("c_acctbal") < 0)
        .unionAll(one("nonpositive_quantity", lineitem, F.col("l_quantity") <= 0))
        .unionAll(one("discount_out_of_range", lineitem,
                      (F.col("l_discount") < 0) | (F.col("l_discount") > 1)))
        .unionAll(one("ship_before_order", ship_before_order,
                      F.col("l_shipdate") < F.col("o_orderdate")))
    )
    if config is not None:
        recomputed = (
            lineitem.groupBy("l_orderkey")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                       * (1 + F.col("l_tax"))).alias("recomputed"))
        )
        joined = orders.select("o_orderkey", "o_totalprice").join(
            recomputed, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        mismatch = (
            F.abs(F.col("o_totalprice")
                  - F.coalesce(F.col("recomputed"), F.lit(0.0)))
            >= float(config.money_tolerance))
        out = out.unionAll(one("total_mismatch", joined, mismatch))
    return out


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event rollup — the idiomatic upgrade of the
    reference's 24h monitoring aggregate (main.py:820-851) using
    window() bucketing (streaming-compatible shape).

    The bucket is published as raw epoch micros (window_start_us),
    not TIMESTAMP: pyspark collect() renders TIMESTAMP through the
    PROCESS-local timezone regardless of the pinned session
    timezone, the render-layer class the round-10 hostile-TZ rung
    caught on events_dedup_batch (banned catalog-wide by
    tests/test_oracle_types.py).
    """
    return (
        read_table(spark, sf_dir, "events")
        .groupBy(
            F.unix_micros(F.window("ts", "1 hour").getField("start"))
            .alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def events_recent_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/A6: sliding 24h global aggregate (main.py:832-845),
    anchored at max(ts) instead of now() for determinism.
    """
    events = read_table(spark, sf_dir, "events")
    anchor = events.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("cutoff"))
    return (
        events.crossJoin(F.broadcast(anchor))
        .filter(F.col("ts") >= F.col("cutoff"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 2).alias("avg_value"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user — batch form via
    lag + running sum (the streaming form uses session_window; see
    streaming module). One shuffle on user_id; both window functions
    reuse the same partitioning.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_sec = 30 * 60
    events = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts").cast("double") - F.lag("ts").over(w).cast("double"))
               > gap_sec),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            # raw epoch micros, not TIMESTAMP (the collect()
            # process-TZ render class — see events_hourly)
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


QUERIES = {
    "top_products": top_products,
    "monthly_sales": monthly_sales,
    "segment_rollup": segment_rollup,
    "customer_rollup": customer_rollup,
    "orphan_lineitems": orphan_lineitems,
    "order_consistency": order_consistency,
    "transform_customers": transform_customers_q,
    "transform_parts": transform_parts_q,
    "quality_profile": quality_profile,
    "validation_rules": validation_rules,
    "events_hourly": events_hourly,
    "events_recent_24h": events_recent_24h,
    "events_sessionization": events_sessionization,
}

ORACLE_SQL = {
    "top_products": """
        SELECT p.p_partkey, p.p_name,
               sum(l.l_quantity) AS total_quantity_sold,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY p.p_partkey, p.p_name
        ORDER BY total_revenue DESC, p.p_partkey
        LIMIT 10
    """,
    "monthly_sales": f"""
        SELECT {sql_month_label('o_orderdate')} AS month,
               count(*) AS total_orders,
               round(sum(o_totalprice), 2) AS total_revenue
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY 1
        ORDER BY month
    """,
    "segment_rollup": """
        SELECT c_mktsegment AS customer_segment,
               count(*) AS customer_count,
               round(avg(c_acctbal), 2) AS avg_acctbal,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer
        GROUP BY 1
        ORDER BY total_acctbal DESC
    """,
    "customer_rollup": """
        SELECT c.c_custkey, c.c_name,
               count(o.o_orderkey) AS total_orders,
               round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
        FROM customer c
        LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
          ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    "orphan_lineitems": """
        SELECT count(*) AS orphan_count
        FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
    "order_consistency": """
        SELECT count(*) FILTER (WHERE abs(o.o_totalprice - coalesce(r.recomputed, 0.0)) < 0.01)
                 AS consistent_orders,
               count(*) AS total_orders
        FROM orders o
        LEFT JOIN (
            SELECT l_orderkey,
                   sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS recomputed
            FROM lineitem GROUP BY 1
        ) r ON o.o_orderkey = r.l_orderkey
    """,
    "transform_customers": """
        SELECT c_custkey,
               trim(c_name) AS c_name,
               trim(c_mktsegment) AS customer_segment,
               round(c_acctbal, 2) AS c_acctbal
        FROM customer
        WHERE c_acctbal >= 0
    """,
    "transform_parts": """
        SELECT p_partkey,
               trim(p_name) AS p_name,
               p_brand,
               greatest(0, p_size) AS p_size,
               round(p_retailprice, 2) AS p_retailprice,
               floor(p_retailprice / greatest(1, p_size) * 100) / 100 AS price_per_size
        FROM part
        WHERE p_retailprice > 0
    """,
    "quality_profile": """
        WITH a AS (
            SELECT count(*) AS row_count,
                   CAST(coalesce(sum(
                       CAST(l_orderkey IS NULL AS BIGINT) + CAST(l_partkey IS NULL AS BIGINT)
                     + CAST(l_suppkey IS NULL AS BIGINT) + CAST(l_linenumber IS NULL AS BIGINT)
                     + CAST(l_quantity IS NULL AS BIGINT) + CAST(l_extendedprice IS NULL AS BIGINT)
                     + CAST(l_discount IS NULL AS BIGINT) + CAST(l_tax IS NULL AS BIGINT)
                     + CAST(l_returnflag IS NULL AS BIGINT) + CAST(l_linestatus IS NULL AS BIGINT)
                     + CAST(l_shipdate IS NULL AS BIGINT)
                   ), 0) AS BIGINT) AS total_nulls
            FROM lineitem
        ), d AS (
            SELECT count(*) AS distinct_rows FROM (SELECT DISTINCT * FROM lineitem)
        )
        SELECT 'lineitem' AS table_name,
               a.row_count,
               11 AS column_count,
               a.total_nulls,
               a.row_count - d.distinct_rows AS duplicate_rows,
               round(greatest(CAST(0.0 AS DOUBLE),
                     (a.row_count * 11 - a.total_nulls - (a.row_count - d.distinct_rows) * 11)
                     / CAST(a.row_count * 11 AS DOUBLE) * 100), 2) AS quality_score
        FROM a, d
    """,
    "validation_rules": """
        SELECT 'negative_acctbal' AS rule_name,
               count(*) FILTER (WHERE c_acctbal < 0) AS violation_count FROM customer
        UNION ALL
        SELECT 'nonpositive_quantity', count(*) FILTER (WHERE l_quantity <= 0) FROM lineitem
        UNION ALL
        SELECT 'discount_out_of_range',
               count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) FROM lineitem
        UNION ALL
        SELECT 'ship_before_order',
               count(*) FILTER (WHERE l.l_shipdate < o.o_orderdate)
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    "events_hourly": """
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_recent_24h": """
        SELECT count(*) AS n_events,
               round(avg(value), 2) AS avg_value,
               round(sum(value), 2) AS total_value
        FROM events
        WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOURS FROM events)
    """,
    "events_sessionization": """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts, value,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_end_us,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM sess
        GROUP BY user_id, session_id
    """,
}


# --- S4 raw-SQL entry + O4 sampling (appended catalog entries) ------------

def sql_monthly_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the reference's raw-SQL entry point (pd.read_sql_query →
    SQLite, main.py:648-657) re-expressed as spark.sql over
    registered views — Catalyst runs the parse/analyze/optimize/
    execute stack SQLite ran. Same result contract as monthly_sales.
    """
    from simpleetlpipeline_spark.io import run_sql

    # Month bucket spelled in the timezone-proof SQL idiom (the SQL
    # twin of operators/dates.month_label): date_format over a
    # TIMESTAMP resolves the session timezone at analysis time.
    return run_sql(spark, sf_dir, """
        SELECT substring(CAST(__m AS STRING), 1, 7) AS month,
               total_orders, total_revenue
        FROM (
            SELECT trunc(date_from_unix_date(CAST(
                       unix_micros(o_orderdate) div 86400000000
                       AS INT)), 'MM') AS __m,
                   count(*) AS total_orders,
                   round(sum(o_totalprice), 2) AS total_revenue
            FROM orders
            WHERE o_orderstatus = 'F'
            GROUP BY __m
        )
        ORDER BY month
    """)


def orders_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: seeded Bernoulli sampling (reference df.sample,
    main.py:323,356). Deterministic for a fixed seed and input
    splits; per-partition with no shuffle at any scale. Exact-n
    sampling would be orderBy(rand(seed)).limit(n) — a global sort,
    only worth it when exactness matters."""
    return read_table(spark, sf_dir, "orders").sample(0.1, seed=42)


QUERIES["sql_monthly_sales"] = sql_monthly_sales
ORACLE_SQL["sql_monthly_sales"] = ORACLE_SQL["monthly_sales"]
# orders_sample (seeded rand()) stays available as an API but is not a
# catalog entry: rand(seed) sampling is split-dependent so it can never
# be oracled, and orders_sample_hash below is the deterministic,
# hash-verified form of the same O4 capability.


def orders_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 at scale: deterministic hash-based sampling.

    keep iff the first hex digit of md5('seed42:' || order_id) is
    '0' or '1' — a 12.5% Bernoulli sample that is reproducible under
    any repartitioning, re-run, or engine (rand(seed)-based sampling
    is per-partition state, so the SAME query returns DIFFERENT rows
    when file splits change — a real hazard for debugging and for
    train/eval splits at 100 TB). The predicate evaluates inside the
    scan stage (narrow, no shuffle). Membership compares
    the hex digit lexicographically so the oracle needs no hex
    parsing — md5 of the same string is identical everywhere.
    """
    digit = F.substring(
        F.md5(F.concat(F.lit("seed42:"),
                       F.col("o_orderkey").cast("string"))), 1, 1)
    return (
        read_table(spark, sf_dir, "orders")
        .filter(digit.isin("0", "1"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


QUERIES["orders_sample_hash"] = orders_sample_hash
ORACLE_SQL["orders_sample_hash"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE substr(md5('seed42:' || CAST(o_orderkey AS VARCHAR)), 1, 1)
          IN ('0', '1')
"""


def events_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware rollup: groupBy event_type is the canonical
    low-cardinality skew hazard (a handful of reducers own all
    data at scale); salted_agg spreads each key over 32 salt
    buckets then merges partials. Same result contract as a plain
    GROUP BY (oracle below)."""
    from simpleetlpipeline_spark.operators.aggregates import salted_agg

    out = salted_agg(
        read_table(spark, sf_dir, "events"),
        keys=["event_type"],
        aggs={
            "n_events": ("count", "*"),
            "total_value": ("sum", "value"),
            "avg_value": ("avg", "value"),
        },
    )
    return out.select(
        "event_type", "n_events",
        F.round("total_value", 2).alias("total_value"),
        F.round("avg_value", 2).alias("avg_value"),
    )


QUERIES["events_type_rollup"] = events_type_rollup
ORACLE_SQL["events_type_rollup"] = """
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(avg(value), 2) AS avg_value
    FROM events
    GROUP BY 1
"""


def events_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user reach per event type: exact count_distinct
    (oracled). At 100 TB the same query swaps count_distinct for
    approx_count_distinct (HyperLogLog++, mergeable sketch, no
    distinct-expand shuffle) — tested within 5% of exact in
    tests/test_plans.py::test_approx_reach_close_to_exact."""
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
    )


QUERIES["events_user_reach"] = events_user_reach
ORACLE_SQL["events_user_reach"] = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY 1
"""


def date_axis_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMANENT gate-window diagnostic (never rotates out; round-6
    verdict task #2). One cheap row per month of o_orderdate carrying
    BOTH layers of the date axis:

    - ``min_micros`` / ``max_micros`` — the RAW stored int64 micros
      (the read layer: any cross-engine disagreement here means the
      engines aren't even seeing the same instants);
    - ``month`` / ``min_day`` / ``max_day`` — the rendered calendar
      position via the timezone-proof epoch idiom (the render layer).

    If a future driver round reds any date-carrying query, this
    canary's diff localizes the divergence in ONE round: micros off
    -> read-side (parquet reader / type mapping); micros green but
    labels off -> render-side (calendar arithmetic); canary fully
    green -> the red is not a date problem at all. The round-5/6
    reds took two driver rounds to localize precisely because no
    in-gate query separated the two layers.

    Scale: one map-side-combined hash aggregate over ~|months|
    groups, status filter pushed to the scan. Trivial at any SF.
    """
    return (
        read_table(spark, sf_dir, "orders")
        .select(F.unix_micros(F.col("o_orderdate")).alias("us"),
                epoch_day("o_orderdate").alias("day"),
                month_start("o_orderdate").alias("__m"))
        .groupBy("__m")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.min("us").alias("min_micros"),
             F.max("us").alias("max_micros"),
             F.min("day").alias("min_day"),
             F.max("day").alias("max_day"))
        .select(label_of_month_start("__m").alias("month"), "n_orders",
                "min_micros", "max_micros", "min_day", "max_day")
        .orderBy("month")
    )


def int128_fetch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 diagnostic, RE-ARMED round 9 as a GREEN contract.

    History: in round 8 this entry's oracle deliberately left
    ``n_int128`` as DuckDB ``sum(1)`` (HUGEINT/INT128) while
    ``n_bigint`` was CAST to BIGINT, as a falsifiable test of the
    r5-r7 hash-red theory. The driver came back hash-RED on exactly
    this entry (CORRECTNESS_r08.json) with both fixed parents
    (monthly_sales_retract, revenue_cusum_changepoint) GREEN —
    CONFIRMING that the driver's oracle fetch converts INT128 to
    float64 (DuckDB's pandas/arrow path: ``str(25.0) != str(25)``
    under GATE_ENV.json's str-canonicalizer).

    With the theory confirmed, the probe's oracle now CASTs BOTH
    columns to BIGINT — the same two-column shape, attesting the
    fixed class green instead of burning a gate slot on a permanent
    known-red (round-8 verdict task #1). The HUGEINT positive
    control lives on in tests/test_oracle_types.py
    (``test_pandas_fetch_emulation_still_detects_int128``, a
    non-catalog SQL twin) and in the ``SPARK_GRAFT_ORACLE_FETCH=
    pandas`` ladder rung, so a regression in either the fetch
    emulation or a future INT128-typed oracle still trips locally
    before any driver round."""
    return (read_table(spark, sf_dir, "nation")
            .agg(F.count(F.lit(1)).alias("n_bigint"),
                 F.count(F.lit(1)).alias("n_int128")))


QUERIES["int128_fetch_probe"] = int128_fetch_probe
ORACLE_SQL["int128_fetch_probe"] = """
    SELECT CAST(sum(1) AS BIGINT) AS n_bigint,
           CAST(sum(1) AS BIGINT) AS n_int128
    FROM nation
"""


QUERIES["date_axis_canary"] = date_axis_canary
ORACLE_SQL["date_axis_canary"] = f"""
    SELECT {sql_month_label('o_orderdate')} AS month,
           count(*) AS n_orders,
           min(epoch_us(o_orderdate)) AS min_micros,
           max(epoch_us(o_orderdate)) AS max_micros,
           min({sql_epoch_day('o_orderdate')}) AS min_day,
           max({sql_epoch_day('o_orderdate')}) AS max_day
    FROM orders
    GROUP BY 1
    ORDER BY month
"""
