"""Dataset catalog info (reference lib/dataset_info.py:23-76 DatasetInfo +
lib/dc/datasets.py datasets() returning it).

`datasets_info(spark, ...)` enumerates the catalog as a DataFrame with one
row per dataset: identity (name/namespace/project), latest version tag and
snapshot id, creation time, and REAL physical stats — row count and byte
size read from the live snapshot's parquet footers (driver-side metadata
only, no Spark job; the reference stores the same numbers in its datasets
registry at save time).
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

INFO_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("namespace", T.StringType(), False),
        T.StructField("project", T.StringType(), False),
        T.StructField("version", T.StringType(), True),  # latest semver tag
        T.StructField("snapshot_id", T.IntegerType(), False),
        T.StructField("num_versions", T.IntegerType(), False),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("num_objects", T.LongType(), True),
        T.StructField("size", T.LongType(), True),
        # dataset-level metadata (reference lib/dataset_info.py:30-41
        # DatasetInfo.description / .attrs): attrs are bare ("NLP") or
        # valued ("location=US") strings
        T.StructField("description", T.StringType(), True),
        T.StructField("attrs", T.ArrayType(T.StringType()), True),
    ]
)


def has_attr(attrs: list[str], attr: str) -> bool:
    """Reference DatasetInfo.has_attr (lib/dataset_info.py:44-58): bare
    `"NLP"` matches exactly; `"location=US"` matches that value;
    `"location=*"` matches any value of that name."""
    s = attr.split("=")
    if len(s) == 1:
        return attr in attrs
    name, value = s[0], s[1]
    for a in attrs:
        p = a.split("=")
        if value == "*" and p[0] == name:
            return True
        if len(p) == 2 and p[0] == name and p[1] == value:
            return True
    return False


def _live_stats(table) -> tuple[int | None, int | None]:
    """(rows, bytes) of the CURRENT snapshot from parquet footers."""
    import pyarrow.parquet as pq

    snap = table.snapshot()
    rows = 0
    size = 0
    for p in table._files(snap):
        if not os.path.exists(p):
            return None, None
        rows += pq.ParquetFile(p).metadata.num_rows
        size += os.path.getsize(p)
    return rows, size


def datasets_info(
    spark: SparkSession,
    catalog_root: str | None = None,
    namespace: str | None = None,
    project: str | None = None,
    attrs: list[str] | None = None,
) -> DataFrame:
    """One info row per registered dataset (reference datasets();
    lib/dc/datasets.py:225-280 with its DatasetInfo payload). `attrs=`
    filters on dataset attributes with the reference's has_attr semantics
    (every given attr must match; lib/dc/datasets.py:274-276)."""
    from datachain_spark.chain import DEFAULT_CATALOG, datasets
    from datachain_spark.lake.table import LakeTable
    from datachain_spark.namespaces import (
        DEFAULT_NAMESPACE,
        dataset_root,
        parse_dataset_name,
    )

    root = catalog_root or DEFAULT_CATALOG
    rows = []
    for full_name in datasets(root, namespace=namespace, project=project):
        ns, proj, bare = parse_dataset_name(full_name)
        table = LakeTable(dataset_root(root, full_name))
        versions = table.versions()
        head = table.snapshot()
        tags = table.tags()
        tag = tags[-1][1] if tags else None
        created = table.snapshot(versions[0]).created_at or None
        n, size = _live_stats(table)
        ds_attrs = [str(a) for a in (head.props or {}).get("dataset.attrs", [])]
        if attrs and not all(has_attr(ds_attrs, a) for a in attrs):
            continue
        rows.append(
            (
                bare,
                ns or DEFAULT_NAMESPACE,
                proj or "",
                tag,
                head.version,
                # user-facing version count = semver TAGS (each save tags
                # once; untagged intermediate snapshots are engine-internal)
                len(tags) or len(versions),
                datetime.datetime.fromtimestamp(created) if created else None,
                n,
                size,
                (head.props or {}).get("dataset.description"),
                ds_attrs,
            )
        )
    return spark.createDataFrame(rows, INFO_SCHEMA)


__all__ = ["INFO_SCHEMA", "datasets_info", "has_attr"]
