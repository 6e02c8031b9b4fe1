"""Curation operators over Spark DataFrames."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash60(s: Column) -> Column:
    """The one hash of the sketching operators (minhash, simhash,
    winnowing, hyperplane LSH, k-means seeding, sampling buckets): the
    first 15 hex digits of md5(s) as a non-negative 60-bit long. md5 is
    identical in every engine, so the DuckDB oracles recompute it as
    ``_MD5I`` = ``CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)`` and
    match every signature, plane and bucket value for value. Callers format
    their input (``cast("string")``, ``format_string("%d", ...)``) the way
    the oracle's SQL does."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
