"""Timezone-independence contract for operators/dates.py.

Three claims, each load-bearing for the driver gate:
1. Under a UTC session the helpers equal the naive calendar
   functions they replace (same values the oracle produces).
2. Under a HOSTILE session timezone at ANALYSIS time (the round-6
   driver-red mechanism: LTZ column + non-UTC analysis TZ) the
   helpers are bit-identical to the UTC truth, while the replaced
   idiom demonstrably diverges (the reproduction stays in-tree so
   the failure mode is executable documentation).
3. The Spark helpers match their DuckDB sql_* twins on real data.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from simpleetlpipeline_spark.operators import dates as D

ORDERS = "/root/testdata/sf0.001/orders.parquet"
EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def orders_ltz(spark):
    # Force the LTZ read path (io.read_table's production setting).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(ORDERS)
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    return df


def _collect(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).distinct().collect())


def test_helpers_equal_naive_calendar_under_utc(spark, orders_ltz):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = orders_ltz.select(
        D.month_label("o_orderdate").alias("m"),
        F.date_format("o_orderdate", "yyyy-MM").alias("m_ref"),
        D.day_label("o_orderdate").alias("d"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d_ref"),
        D.epoch_date("o_orderdate").alias("dt"),
        F.to_date("o_orderdate").alias("dt_ref"),
        D.year_of("o_orderdate").alias("y"),
        F.year("o_orderdate").alias("y_ref"),
        D.month_start("o_orderdate").alias("ms"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("ms_ref"),
        D.week_start("o_orderdate").alias("ws"),
        F.to_date(F.date_trunc("week", "o_orderdate")).alias("ws_ref"),
    )
    bad = df.filter(
        (F.col("m") != F.col("m_ref")) | (F.col("d") != F.col("d_ref"))
        | (F.col("dt") != F.col("dt_ref")) | (F.col("y") != F.col("y_ref"))
        | (F.col("ms") != F.col("ms_ref")) | (F.col("ws") != F.col("ws_ref"))
    ).count()
    assert bad == 0


def test_hour_helpers_equal_naive_under_utc(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ev = spark.read.parquet(EVENTS)
    bad = ev.select(
        D.hour_of("ts").alias("h"), F.hour("ts").alias("h_ref"),
        D.epoch_date("ts").alias("d"), F.to_date("ts").alias("d_ref"),
    ).filter((F.col("h") != F.col("h_ref"))
             | (F.col("d") != F.col("d_ref"))).count()
    assert bad == 0


def test_helpers_invariant_under_hostile_analysis_tz(spark, orders_ltz):
    """The decisive reproduction: analysis under America/Los_Angeles
    shifts date_format months (midnight-UTC instants fall back a
    day) but leaves every dates.py helper at the UTC truth."""
    cols_pure = [D.month_label("o_orderdate").alias("m"),
                 D.epoch_day("o_orderdate").alias("ed"),
                 D.week_start("o_orderdate").alias("ws")]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    truth_pure = _collect(orders_ltz.select(*cols_pure), ["m", "ed", "ws"])
    truth_naive = _collect(
        orders_ltz.select(F.date_format("o_orderdate", "yyyy-MM")
                          .alias("m")), ["m"])
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        # Re-select under the hostile TZ: analysis happens NOW.
        hostile_pure = _collect(
            orders_ltz.select(*cols_pure), ["m", "ed", "ws"])
        hostile_naive = _collect(
            orders_ltz.select(F.date_format("o_orderdate", "yyyy-MM")
                              .alias("m")), ["m"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert hostile_pure == truth_pure
    # The reproduction: the idiom the helpers replace DOES diverge.
    assert hostile_naive != truth_naive


def test_helpers_match_duckdb_twins(spark, orders_ltz):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = sorted(
        tuple(r) for r in orders_ltz.select(
            D.epoch_day("o_orderdate").alias("ed"),
            D.month_label("o_orderdate").alias("m"),
            D.day_label("o_orderdate").alias("d"),
            D.year_of("o_orderdate").cast("long").alias("y"),
            D.month_start("o_orderdate").cast("string").alias("ms"),
            D.week_start("o_orderdate").cast("string").alias("ws"),
        ).distinct().collect())
    want = sorted(
        tuple(r) for r in duckdb.sql(f"""
            SELECT DISTINCT
                   {D.sql_epoch_day('o_orderdate')} AS ed,
                   {D.sql_month_label('o_orderdate')} AS m,
                   {D.sql_day_label('o_orderdate')} AS d,
                   CAST({D.sql_year_of('o_orderdate')} AS BIGINT) AS y,
                   CAST({D.sql_month_start('o_orderdate')} AS VARCHAR) AS ms,
                   CAST({D.sql_week_start('o_orderdate')} AS VARCHAR) AS ws
            FROM '{ORDERS}'
        """).fetchall())
    assert got == want


def test_hour_twins_match_duckdb(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ev = spark.read.parquet(EVENTS)
    got = sorted(
        tuple(r) for r in ev.select(
            D.hour_bucket("ts").alias("hb"),
            D.hour_of("ts").cast("long").alias("h"),
        ).distinct().collect())
    want = sorted(
        tuple(r) for r in duckdb.sql(f"""
            SELECT DISTINCT {D.sql_hour_bucket('ts')} AS hb,
                   CAST({D.sql_hour_of('ts')} AS BIGINT) AS h
            FROM '{EVENTS}'
        """).fetchall())
    assert got == want


def _hostile_build(spark, monkeypatch, names, tz="America/Los_Angeles"):
    """Build + collect catalog queries with the UTC pin DISABLED and a
    hostile session timezone active at ANALYSIS time — the strongest
    local replica of a driver whose conf our best-effort pin can't
    reach. Returns {name: sorted rows-as-strings}."""
    import simpleetlpipeline_spark.session as sess
    from simpleetlpipeline_spark.plans import catalog

    real = sess.ensure_session_conf

    def pin_hostile_tz(s):
        real(s)
        s.conf.set("spark.sql.session.timeZone", tz)
        return s

    # The catalog boundary looks the function up on the session module
    # at call time, so this one binding reaches every entry.
    monkeypatch.setattr(sess, "ensure_session_conf", pin_hostile_tz)
    out = {}
    try:
        for n in names:
            df = catalog.QUERIES[n](spark, "/root/testdata/sf0.001")
            out[n] = sorted(str(tuple(r)) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return out


def test_converted_queries_survive_hostile_analysis_tz(spark, monkeypatch):
    """The ENTIRE gate window (minus the streaming replays, whose
    window() bucketing is epoch-aligned instant arithmetic and which
    cost ~15s each to replay): identical output whether the plan is
    analyzed under UTC or under America/Los_Angeles. This is the
    strongest local replica of the round-5/6 driver-red mechanism —
    every entry the driver will hash is exercised under the hostile
    timezone before rotation."""
    from simpleetlpipeline_spark.plans import catalog
    names = [n for n in catalog.GATE_PREFIX
             if not n.startswith("streaming_")]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    truth = {}
    for n in names:
        df = catalog.QUERIES[n](spark, "/root/testdata/sf0.001")
        truth[n] = sorted(str(tuple(r)) for r in df.collect())
    hostile = _hostile_build(spark, monkeypatch, names)
    assert hostile == truth


def test_catalog_boundary_asserts_conf_on_hostile_session(spark):
    """The catalog wrapper is the one place conf is asserted: an entry
    called on a session with a hostile timezone AND the nanos-as-long
    read flag off (a driver's own session) returns the UTC result."""
    from simpleetlpipeline_spark.plans import catalog

    run = catalog.QUERIES["events_hourly"]
    truth = sorted(run(spark, "/root/testdata/sf0.001").collect())
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        got = sorted(run(spark, "/root/testdata/sf0.001").collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert got == truth


def test_catalog_boundary_keeps_explicit_shuffle_partitions(spark):
    """A shuffle-partition count the session sets explicitly survives
    a catalog call, so a deliberately hostile partitioning (the
    SPARK_GRAFT_ORACLE_SHUFFLE=3 sweep) really runs at that count."""
    from simpleetlpipeline_spark.plans import catalog

    key = "spark.sql.shuffle.partitions"
    try:
        spark.conf.set(key, "3")
        catalog.QUERIES["events_hourly"](
            spark, "/root/testdata/sf0.001").collect()
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, "4")
