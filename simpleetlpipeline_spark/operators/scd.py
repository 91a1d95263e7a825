"""Slowly-changing-dimension (type 2) merge.

The reference mutates its customer dimension in place with a
correlated UPDATE (main.py:612-628) — fine in SQLite, impossible on
immutable distributed storage. The warehouse-scale answer is SCD2:
every change CLOSES the current row (stamps valid_to) and APPENDS a
new current row, so history is queryable and the merge is pure
append-plus-rewrite — exactly what a 100 TB dimension needs.

Plan shape: ONE full-outer shuffle join of the current slice with
the update batch on the business key, then a row-explode that emits
the (possibly closed) existing row and the (possibly new) incoming
row from the same joined record — no second join, no driver state.
Closed history rows never enter the join (filter pushes to the
scan); at scale they are the bulk of the table and ride through
untouched. Version stamps are caller-supplied integers, so reruns
are deterministic and oracle-checkable (no wall-clock timestamps).
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simpleetlpipeline_spark.operators.dates import epoch_second

VALID_FROM = "valid_from"
VALID_TO = "valid_to"


def scd2_apply(base: DataFrame, updates: DataFrame,
               key_cols: Sequence[str], attr_cols: Sequence[str],
               version: int) -> DataFrame:
    """Merge an update batch into an SCD2 dimension table.

    `base` carries key_cols + attr_cols + valid_from/valid_to (int,
    valid_to null = current). `updates` carries key_cols + attr_cols
    (one row per key: the desired new state). Returns the full
    post-merge table:

    - current row, update differs  -> row closed (valid_to=version)
      and a new current row appended (valid_from=version),
    - current row, update identical -> row kept unchanged (no churn
      rows: an idempotent re-send of the same state is a no-op),
    - key only in updates           -> inserted as new current row,
    - key only in base              -> kept unchanged,
    - already-closed history rows   -> pass through, never joined.

    The one-row-per-key contract on `updates` is ENFORCED, not
    assumed: a duplicate-key batch would fan out the full-outer join
    and silently emit multiple current rows per key, so the update
    side carries a per-key window count and raises at execution time
    on any duplicate (distributed, no driver-side pre-count; the
    window partitions on the same keys the join shuffles on, and a
    silent dropDuplicates would pick a nondeterministic winner)."""
    from pyspark.sql.window import Window

    key_cols, attr_cols = list(key_cols), list(attr_cols)
    cur = base.filter(F.col(VALID_TO).isNull())
    closed = base.filter(F.col(VALID_TO).isNotNull())

    kcnt = F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    dup_guard = (
        F.when(kcnt > 1, F.raise_error(F.concat(
            F.lit("scd2_apply: duplicate update rows for key ("),
            F.concat_ws(",", *[F.col(k).cast("string")
                               for k in key_cols]),
            F.lit(") — one row per business key required"))))
        .otherwise(F.lit(True))
    )
    u = updates.select(
        *key_cols,
        *[F.col(c).alias(f"__u_{c}") for c in attr_cols],
        dup_guard.alias("__has_u"),
    )
    j = cur.withColumn("__has_c", F.lit(True)).join(u, key_cols, "full_outer")

    changed = functools.reduce(operator.or_, [
        ~F.col(c).eqNullSafe(F.col(f"__u_{c}")) for c in attr_cols])
    has_c = F.col("__has_c").eqNullSafe(F.lit(True))
    has_u = F.col("__has_u").eqNullSafe(F.lit(True))

    def row(from_update: bool, valid_from, valid_to):
        src = (lambda c: F.col(f"__u_{c}")) if from_update else F.col
        return F.struct(
            *[F.col(k).alias(k) for k in key_cols],
            *[src(c).cast(j.schema[c].dataType).alias(c)
              for c in attr_cols],
            valid_from.cast("int").alias(VALID_FROM),
            valid_to.cast("int").alias(VALID_TO),
        )

    existing = F.when(has_c, row(
        False, F.col(VALID_FROM),
        F.when(has_u & changed, F.lit(version)).otherwise(F.lit(None))))
    incoming = F.when(has_u & (~has_c | changed), row(
        True, F.lit(version), F.lit(None)))

    merged = (
        j.select(F.explode(F.array(existing, incoming)).alias("__r"))
        .filter(F.col("__r").isNotNull())
        .select("__r.*")
    )
    return closed.select(merged.columns).unionByName(merged)


# --- catalog entry: a deterministic customer-history scenario -------

SCD_ATTRS = ("c_acctbal", "c_mktsegment")


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog scenario for scd2_apply on the customer dimension:
    version 1 is the snapshot as loaded; the version-2 batch touches
    every 7th customer (balance credited +100) — every 21st also
    switches segment — and re-sends every (custkey % 5 == 3)
    customer unchanged, which must produce zero churn rows. Output
    is the full post-merge SCD2 table."""
    from simpleetlpipeline_spark.io import read_table

    snap = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment")
    base = snap.select(
        "*", F.lit(1).cast("int").alias(VALID_FROM),
        F.lit(None).cast("int").alias(VALID_TO))
    k = F.col("c_custkey")
    updates = (
        snap.filter((k % 7 == 0) | (k % 5 == 3))
        .select(
            "c_custkey",
            F.when(k % 7 == 0, F.round(F.col("c_acctbal") + 100, 2))
            .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
            F.when(k % 21 == 0, F.lit("MOVED"))
            .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        )
    )
    return scd2_apply(base, updates, ["c_custkey"], list(SCD_ATTRS),
                      version=2)


QUERIES = {"scd2_customer_history": scd2_customer_history}

ORACLE_SQL = {
    "scd2_customer_history": """
        WITH base AS (
            SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal,
                   c_mktsegment
            FROM customer
        ), upd AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0
                        THEN round(round(c_acctbal, 2) + 100, 2)
                        ELSE round(c_acctbal, 2) END AS c_acctbal,
                   CASE WHEN c_custkey % 21 = 0 THEN 'MOVED'
                        ELSE c_mktsegment END AS c_mktsegment
            FROM customer
            WHERE c_custkey % 7 = 0 OR c_custkey % 5 = 3
        ), changed AS (
            SELECT b.c_custkey
            FROM base b JOIN upd u USING (c_custkey)
            WHERE b.c_acctbal != u.c_acctbal
               OR b.c_mktsegment != u.c_mktsegment
        )
        SELECT b.c_custkey, b.c_acctbal, b.c_mktsegment,
               1 AS valid_from,
               CASE WHEN c.c_custkey IS NOT NULL THEN 2 END AS valid_to
        FROM base b LEFT JOIN changed c USING (c_custkey)
        UNION ALL
        SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
               2 AS valid_from, NULL AS valid_to
        FROM upd u JOIN changed c USING (c_custkey)
    """,
}


def events_point_in_time_enrich(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Point-in-time enrichment — the leakage-safe feature-store
    join: each event is enriched with the dimension attributes that
    were CURRENT when the event happened, not today's (joining
    today's segment onto last year's events is exactly how training
    features leak the future). Events before the corpus midpoint see
    dimension version 1, later events see version 2 (the midpoint is
    data-derived, so the scenario scales with the testdata); the
    join is key-equi + a version-interval residual against the SCD2
    history — the [valid_from, valid_to) probe every PIT lookup
    runs.

    Output: events per (event_type, segment-at-event-time) with an
    int64-microunit value sum — all integers, fold-order-proof.

    Scale: the SCD2 history is dimension-sized and broadcasts; the
    only big shuffle is the per-(type, segment) aggregate. The
    midpoint is a one-row broadcast, like the module's other
    data-derived scalars.
    """
    from simpleetlpipeline_spark.io import read_table

    hist = scd2_customer_history(spark, sf_dir).select(
        F.col("c_custkey").alias("h_key"), "c_mktsegment",
        F.col(VALID_FROM).alias("vf"), F.col(VALID_TO).alias("vt"))
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value")
    # whole-second midpoint arithmetic: epoch_second truncates to
    # seconds exactly like the oracle's floor(epoch(..)) — a
    # micros-vs-fractional-seconds mix would put the two engines'
    # midpoints sub-second apart and misclassify any event landing
    # in the gap. (epoch_second, not unix_timestamp: same value on
    # TIMESTAMP input, but without the tz-parameterised signature
    # the catalog-wide plan contract bans.)
    #
    # The midpoint stays an INTEGER second count end to end (round-9
    # TZ-proofing, caught by the pre-rotation hostile-TZ rung): the
    # previous form rebuilt a timestamp and compared `ts < mid`,
    # whose oracle twin `to_timestamp(..)` is TIMESTAMPTZ in DuckDB
    # — under a non-UTC ambient TZ the naive-vs-aware comparison
    # shifted the cutoff by the zone offset and misclassified every
    # event inside that window. Integers cannot carry a timezone.
    # `epoch_second(ts) < mid_sec` is exactly `ts < mid` for a
    # whole-second midpoint (sub-second parts only push ts upward).
    mid = events.agg(
        F.floor((epoch_second(F.min("ts"))
                 + epoch_second(F.max("ts"))) / 2)
        .cast("long").alias("__mid_sec"))
    versioned = (events.crossJoin(F.broadcast(mid))
                 .select("user_id", "event_type", "value",
                         F.when(epoch_second(F.col("ts"))
                                < F.col("__mid_sec"), 1)
                         .otherwise(2).alias("at_version")))
    joined = versioned.join(
        F.broadcast(hist),
        (F.col("user_id") == F.col("h_key"))
        & (F.col("at_version") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("at_version") < F.col("vt"))))
    return (
        joined.groupBy("event_type",
                       F.col("c_mktsegment").alias("segment_at_time"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.floor(F.col("value") * 1e6).cast("long"))
             .alias("value_sum6"))
        .orderBy("event_type", "segment_at_time")
    )


QUERIES["events_point_in_time_enrich"] = events_point_in_time_enrich

ORACLE_SQL["events_point_in_time_enrich"] = """
    WITH base AS (
        SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal,
               c_mktsegment
        FROM customer
    ), upd AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0
                    THEN round(round(c_acctbal, 2) + 100, 2)
                    ELSE round(c_acctbal, 2) END AS c_acctbal,
               CASE WHEN c_custkey % 21 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
        WHERE c_custkey % 7 = 0 OR c_custkey % 5 = 3
    ), changed AS (
        SELECT b.c_custkey
        FROM base b JOIN upd u USING (c_custkey)
        WHERE b.c_acctbal != u.c_acctbal
           OR b.c_mktsegment != u.c_mktsegment
    ), hist AS (
        SELECT b.c_custkey AS h_key, b.c_mktsegment,
               1 AS vf,
               CASE WHEN c.c_custkey IS NOT NULL THEN 2 END AS vt
        FROM base b LEFT JOIN changed c USING (c_custkey)
        UNION ALL
        SELECT u.c_custkey, u.c_mktsegment, 2 AS vf, NULL AS vt
        FROM upd u JOIN changed c USING (c_custkey)
    ), mid AS (
        SELECT CAST(floor(
                   (CAST(floor(epoch(min(ts))) AS BIGINT)
                    + CAST(floor(epoch(max(ts))) AS BIGINT)) / 2)
               AS BIGINT) AS m_sec
        FROM events
    ), versioned AS (
        SELECT user_id, event_type, value,
               CASE WHEN epoch_us(ts) // 1000000
                         < (SELECT m_sec FROM mid)
                    THEN 1 ELSE 2 END AS at_version
        FROM events
    )
    SELECT event_type, c_mktsegment AS segment_at_time,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
               AS value_sum6
    FROM versioned v
    JOIN hist h ON v.user_id = h.h_key
               AND v.at_version >= h.vf
               AND (h.vt IS NULL OR v.at_version < h.vt)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""
