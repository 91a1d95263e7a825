"""IO surface tests: CSV/JSON round trips with declared schemas,
raw-SQL entry, empty/missing-source guards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from simpleetlpipeline_spark import io as eio

SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("name", StringType()),
    StructField("score", DoubleType()),
])

ROWS = [(1, "a", 1.5), (2, "b", -2.0), (3, None, 0.0)]


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_csv_roundtrip(spark, df, tmp_path):
    path = str(tmp_path / "t.csv")
    eio.write_csv(df, path)
    back = eio.read_csv(spark, path, SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(ROWS)


def test_driver_rows_df_keeps_big_long_next_to_null(spark):
    """The declared schema types re-entered rows: pandas inference
    would make [2**60 + 1, None] a float64 column and round it."""
    out = eio.driver_rows_df(
        spark, [("a", 2**60 + 1), ("b", None)], "k string, n long")
    assert [r["n"] for r in out.orderBy("k").collect()] == [2**60 + 1, None]
    empty = eio.driver_rows_df(spark, [], "k string, n long")
    assert empty.schema.simpleString() == "struct<k:string,n:bigint>"
    assert empty.collect() == []


def test_json_roundtrip(spark, df, tmp_path):
    path = str(tmp_path / "t.json")
    eio.write_json(df, path)
    back = eio.read_json(spark, path, SCHEMA)
    assert sorted(map(tuple, back.collect()),
                  key=lambda r: r[0]) == sorted(ROWS, key=lambda r: r[0])


def test_read_missing_raises(spark):
    with pytest.raises(FileNotFoundError):
        eio.read_csv(spark, "/nonexistent/x.csv", SCHEMA)
    with pytest.raises(FileNotFoundError):
        eio.read_json(spark, "/nonexistent/x.json", SCHEMA)


def test_run_sql_over_views(spark, sf_dir):
    out = eio.run_sql(
        spark, sf_dir,
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'")
    assert out.first()["n"] > 0


def test_append_table_appends(spark, df, tmp_path):
    path = str(tmp_path / "tbl")
    eio.append_table(df, path)
    eio.append_table(df, path)
    assert spark.read.parquet(path).count() == 2 * len(ROWS)


def test_versioned_table_atomic_swap(spark, df, tmp_path):
    """write_table_version publishes complete snapshots behind an
    atomically-replaced _CURRENT pointer; old versions stay readable
    (time travel) until pruned to keep_versions."""
    root = str(tmp_path / "vtbl")
    eio.write_table_version(df, root, keep_versions=2)
    assert eio.read_table_version(spark, root).count() == len(ROWS)

    v2 = df.unionAll(df)
    eio.write_table_version(v2, root, keep_versions=2)
    # pointer now resolves to the new snapshot...
    assert eio.read_table_version(spark, root).count() == 2 * len(ROWS)
    # ...while the prior version is still readable by number
    assert eio.read_table_version(spark, root, version=1).count() == len(ROWS)

    # a third commit prunes v=1 but keeps the committed + previous
    eio.write_table_version(df, root, keep_versions=2)
    import os as _os
    dirs = sorted(d for d in _os.listdir(root) if d.startswith("v="))
    assert dirs == ["v=2", "v=3"]
    assert eio.read_table_version(spark, root).count() == len(ROWS)
    with open(_os.path.join(root, "_CURRENT")) as fh:
        assert fh.read().strip() == "v=3"


def test_merge_upsert(spark, tmp_path):
    """MERGE onto a versioned table: matched keys replaced, new keys
    inserted, unmatched rows carried over; commit is a new version."""
    root = str(tmp_path / "mtbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double")
    eio.write_table_version(base, root)
    updates = spark.createDataFrame(
        [(2, "b2", 22.0), (4, "d", 40.0)],
        "id long, name string, v double")
    eio.merge_upsert(spark, root, updates, ["id"])
    got = {r["id"]: (r["name"], r["v"])
           for r in eio.read_table_version(spark, root).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 22.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}
    # prior snapshot untouched
    assert eio.read_table_version(spark, root, version=1).count() == 3


def test_orc_round_trip(spark, tmp_path):
    from simpleetlpipeline_spark.io import read_orc, write_orc

    df = spark.range(100).withColumn("v", F.col("id") * 2.5)
    path = str(tmp_path / "t.orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.count() == 100
    assert {f.name for f in back.schema.fields} == {"id", "v"}
    assert back.agg(F.sum("v")).first()[0] == sum(i * 2.5 for i in range(100))


def test_parquet_schema_evolution_merges_columns(spark, tmp_path):
    from simpleetlpipeline_spark.io import read_parquet_evolved

    path = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id")).write.mode("append").parquet(path)
    spark.range(5, 10).select(
        "id", F.lit("new").alias("tag")).write.mode("append").parquet(path)
    merged = read_parquet_evolved(spark, path)
    assert {f.name for f in merged.schema.fields} == {"id", "tag"}
    assert merged.count() == 10
    # pre-evolution rows surface the new column as null
    assert merged.filter(F.col("tag").isNull()).count() == 5


def test_dynamic_partition_overwrite_restates_only_touched_day(
        spark, tmp_path):
    """overwrite_partitions_dynamic replaces just the partitions in
    the incoming frame; static overwrite (the default) would wipe
    the sibling days."""
    from simpleetlpipeline_spark.io import (
        overwrite_partitions_dynamic,
        write_partitioned,
    )

    root = str(tmp_path / "days")
    full = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2),
         ("2024-01-02", 3), ("2024-01-03", 4)], "day string, v int")
    write_partitioned(full, root, ["day"])

    restated = spark.createDataFrame(
        [("2024-01-02", 30), ("2024-01-02", 31)], "day string, v int")
    overwrite_partitions_dynamic(restated, root, ["day"])

    got = sorted((str(r["day"]), r["v"])
                 for r in spark.read.parquet(root).collect())
    assert got == [("2024-01-01", 1), ("2024-01-01", 2),
                   ("2024-01-02", 30), ("2024-01-02", 31),
                   ("2024-01-03", 4)], got

    # contrast: static overwrite of the same restatement wipes days
    write_partitioned(restated, root, ["day"])
    left = {str(r["day"]) for r in spark.read.parquet(root).collect()}
    assert left == {"2024-01-02"}
