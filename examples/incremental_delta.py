"""Incremental recompute with retry — the reference's
examples/incremental_processing/{delta.py,retry.py} rebuilt on Spark.

Run: python examples/incremental_delta.py
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from datachain_spark import get_spark
from datachain_spark.delta import delta_update
from datachain_spark.lake.table import LakeTable

spark = get_spark(cpus=4, shuffle_partitions=8)
work = tempfile.mkdtemp(prefix="delta_example_")


def save_version(table, rows, schema):
    table.overwrite(spark.createDataFrame(rows, schema), "save")


src = LakeTable.create(
    f"{work}/src", spark.createDataFrame([], "id int, v double").schema, key_cols=["id"], num_buckets=1
)
res = LakeTable.create(
    f"{work}/res",
    spark.createDataFrame([], "id int, v double, out double").schema,
    key_cols=["id"],
    num_buckets=1,
)

transform = lambda df: df.withColumn("out", F.col("v") * 10)  # noqa: E731

save_version(src, [(1, 1.0), (2, 2.0)], "id int, v double")
print("v1:", delta_update(spark, src, res, transform, on=["id"]))
print("no change:", delta_update(spark, src, res, transform, on=["id"]))  # None

save_version(src, [(1, 1.0), (2, 5.0), (3, 3.0)], "id int, v double")
print("v2 (only diff recomputed):", delta_update(spark, src, res, transform, on=["id"]))
res.read(spark).orderBy("id").show()
