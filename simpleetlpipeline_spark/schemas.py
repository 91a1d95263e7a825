"""Schema registry: explicit StructTypes for every table.

The reference declares fixed schemas in SQLite DDL (reference
main.py:99-208) but ingests CSVs with pandas type *inference*
(main.py:383). In production Spark that inference is a full extra
pass over the data and a correctness hazard, so this engine declares
every schema explicitly and never uses inferSchema on the hot path.

Two families:
- REFERENCE_SCHEMAS: the reference's e-commerce star schema
  (customers/products/orders/order_items/etl_metadata), used by the
  ETL pipeline driver and its CSV ingestion path.
- TESTDATA_SCHEMAS: the driver-generated TPC-H-ish tables at
  /root/testdata/sf*/ that the analytics/extension catalogs run on.

Money stays DoubleType with +-0.01 tolerance comparisons, matching
the reference's REAL-typed float semantics (main.py:484,497) — do
NOT "fix" to Decimal or parity goldens shift (SURVEY.md §1).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable=True) for n, t in fields])


# --- Reference e-commerce star schema (main.py:99-208) -------------------

CUSTOMERS = _st(
    ("customer_id", LongType()),
    ("first_name", StringType()),
    ("last_name", StringType()),
    ("email", StringType()),
    ("phone", StringType()),
    ("registration_date", DateType()),
    ("country", StringType()),
    ("city", StringType()),
    ("customer_segment", StringType()),
    ("total_orders", IntegerType()),
    ("total_spent", DoubleType()),
)

PRODUCTS = _st(
    ("product_id", LongType()),
    ("product_name", StringType()),
    ("category", StringType()),
    ("subcategory", StringType()),
    ("brand", StringType()),
    ("unit_price", DoubleType()),
    ("cost_price", DoubleType()),
    ("stock_quantity", IntegerType()),
    ("weight_kg", DoubleType()),
    ("supplier_id", IntegerType()),
    ("is_active", BooleanType()),
)

ORDERS = _st(
    ("order_id", LongType()),
    ("customer_id", LongType()),
    ("order_date", DateType()),
    ("order_status", StringType()),
    ("shipping_method", StringType()),
    ("payment_method", StringType()),
    ("subtotal", DoubleType()),
    ("tax_amount", DoubleType()),
    ("shipping_cost", DoubleType()),
    ("discount_amount", DoubleType()),
    ("total_amount", DoubleType()),
)

ORDER_ITEMS = _st(
    ("item_id", LongType()),
    ("order_id", LongType()),
    ("product_id", LongType()),
    ("quantity", IntegerType()),
    ("unit_price", DoubleType()),
    ("discount_percent", DoubleType()),
    ("line_total", DoubleType()),
)

# Lineage table (reference main.py:179-192): one row appended per
# load with counts, timing, quality score and a content checksum.
ETL_METADATA = _st(
    ("table_name", StringType()),
    ("source_file", StringType()),
    ("records_processed", LongType()),
    ("records_inserted", LongType()),
    ("records_updated", LongType()),
    ("records_failed", LongType()),
    ("processing_time", DoubleType()),
    ("data_quality_score", DoubleType()),
    ("checksum", StringType()),
    ("etl_timestamp", TimestampType()),
)

REFERENCE_SCHEMAS: dict[str, StructType] = {
    "customers": CUSTOMERS,
    "products": PRODUCTS,
    "orders": ORDERS,
    "order_items": ORDER_ITEMS,
    "etl_metadata": ETL_METADATA,
}

# Columns actually declared in the reference DDL per table — the
# load step must project onto these before writing. The reference
# forgot to (main.py:465 adds profit_margin, absent from DDL
# main.py:122-139) which silently zeroed its products table
# (SURVEY.md §3 "verified failure"); select-before-write fixes it.
TARGET_COLUMNS: dict[str, list[str]] = {
    t: [f.name for f in s.fields] for t, s in REFERENCE_SCHEMAS.items()
}


# --- Driver testdata (TPC-H-ish; TESTDATA.md) -----------------------------

REGION = _st(("r_regionkey", IntegerType()), ("r_name", StringType()))

NATION = _st(
    ("n_nationkey", IntegerType()),
    ("n_name", StringType()),
    ("n_regionkey", IntegerType()),
)

CUSTOMER = _st(
    ("c_custkey", LongType()),
    ("c_name", StringType()),
    ("c_nationkey", IntegerType()),
    ("c_acctbal", DoubleType()),
    ("c_mktsegment", StringType()),
)

SUPPLIER = _st(
    ("s_suppkey", LongType()),
    ("s_name", StringType()),
    ("s_nationkey", IntegerType()),
    ("s_acctbal", DoubleType()),
)

PART = _st(
    ("p_partkey", LongType()),
    ("p_name", StringType()),
    ("p_brand", StringType()),
    ("p_type", StringType()),
    ("p_size", IntegerType()),
    ("p_retailprice", DoubleType()),
)

TPCH_ORDERS = _st(
    ("o_orderkey", LongType()),
    ("o_custkey", LongType()),
    ("o_orderstatus", StringType()),
    ("o_totalprice", DoubleType()),
    ("o_orderdate", TimestampType()),
    ("o_orderpriority", StringType()),
)

LINEITEM = _st(
    ("l_orderkey", LongType()),
    ("l_partkey", LongType()),
    ("l_suppkey", LongType()),
    ("l_linenumber", IntegerType()),
    ("l_quantity", DoubleType()),
    ("l_extendedprice", DoubleType()),
    ("l_discount", DoubleType()),
    ("l_tax", DoubleType()),
    ("l_returnflag", StringType()),
    ("l_linestatus", StringType()),
    ("l_shipdate", TimestampType()),
)

EVENTS = _st(
    ("event_id", LongType()),
    ("ts", TimestampType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)

DOCUMENTS = _st(
    ("doc_id", LongType()),
    ("text", StringType()),
    ("lang", StringType()),
    ("source", StringType()),
    ("n_chars", LongType()),
)

EMBEDDINGS = _st(
    ("vec_id", LongType()),
    ("embedding", ArrayType(FloatType())),
    ("label", IntegerType()),
)

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": TPCH_ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
