"""JDBC read_database / to_database against embedded Apache Derby (on
Spark's classpath), incl. the set-wise MERGE upsert — the reference's
on_conflict option (lib/dc/database.py:74-300) executed for real."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datachain_spark.sources.database import (
    DERBY_DRIVER,
    read_database,
    to_database,
)


@pytest.fixture()
def url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


def test_jdbc_roundtrip(spark, url):
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2.5).alias("v"), F.format_string("n%02d", "id").alias("name")
    )
    to_database(df, "T1", url, mode="overwrite", driver=DERBY_DRIVER)
    back = read_database(spark, "SELECT * FROM T1", url, driver=DERBY_DRIVER)
    rows = sorted(tuple(r) for r in back.collect())
    assert len(rows) == 10 and rows[3] == (3, 7.5, "n03")


def test_jdbc_partitioned_read(spark, url):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("g"))
    to_database(df, "T2", url, mode="overwrite", driver=DERBY_DRIVER)
    back = read_database(
        spark,
        'SELECT * FROM T2 WHERE "g" < 5',
        url,
        driver=DERBY_DRIVER,
        partition_column='"id"',
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == df.filter("g < 5").count()


def test_jdbc_upsert_on_conflict(spark, url):
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, name string, v double"
    )
    to_database(base, "T3", url, mode="overwrite", driver=DERBY_DRIVER)
    # upsert: id 2 updated, id 4 inserted
    delta = spark.createDataFrame([(2, "B!", 20.0), (4, "d", 4.0)], "id long, name string, v double")
    to_database(delta, "T3", url, on_conflict=["id"], driver=DERBY_DRIVER)
    got = {
        r["id"]: (r["name"], r["v"])
        for r in read_database(spark, "SELECT * FROM T3", url, driver=DERBY_DRIVER).collect()
    }
    assert got == {1: ("a", 1.0), 2: ("B!", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)}
    # idempotent: replaying the same upsert is a no-op
    to_database(delta, "T3", url, on_conflict=["id"], driver=DERBY_DRIVER)
    n = read_database(spark, "SELECT * FROM T3", url, driver=DERBY_DRIVER).count()
    assert n == 4
    # upsert into a missing table degrades to a create+insert
    to_database(delta, "T4", url, on_conflict=["id"], driver=DERBY_DRIVER)
    assert read_database(spark, "SELECT * FROM T4", url, driver=DERBY_DRIVER).count() == 2


def test_chain_to_database_and_back(spark, url):
    from datachain_spark.chain import Chain, read_values
    from datachain_spark.chain import read_database as chain_read_db

    ch = read_values(spark, id=[1, 2, 3], score=[0.5, 1.5, 2.5])
    ch.to_database("T5", url, mode="overwrite", driver=DERBY_DRIVER)
    back = chain_read_db(spark, "SELECT * FROM T5", url, driver=DERBY_DRIVER)
    assert sorted(back.to_values("score")) == [0.5, 1.5, 2.5]


# ---------- JDBC: lower-case table names through quoted staging ----------
def test_jdbc_upsert_lowercase_table(spark, tmp_path):
    from datachain_spark.sources.database import DERBY_DRIVER, read_database, to_database

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    to_database(base, "events_lc", url, mode="overwrite", driver=DERBY_DRIVER)
    delta = spark.createDataFrame([(2, "B!"), (3, "c")], "id long, name string")
    # pre-fix: the staging table's lower-case prefix was case-folded by the
    # unquoted JDBC write and the quoted MERGE/DROP failed to resolve
    to_database(delta, "events_lc", url, on_conflict=["id"], driver=DERBY_DRIVER)
    got = {
        r["id"]: r["name"]
        for r in read_database(
            spark, 'SELECT * FROM "events_lc"', url, driver=DERBY_DRIVER
        ).collect()
    }
    assert got == {1: "a", 2: "B!", 3: "c"}
