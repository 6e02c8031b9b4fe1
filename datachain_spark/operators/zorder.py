"""Z-order (Morton-curve) multi-column clustering layout.

Delta Lake's ``OPTIMIZE ... ZORDER BY`` / Iceberg's ``rewrite_data_files
(strategy => 'sort', sort_order => 'zorder(...)')`` analog — the reference
has no layout optimizer at all (its SQLite-backed datasets are unordered;
nearest is the warehouse `ORDER BY` at save, src/datachain/query/dataset.py),
but at 100 TB the difference between scanning every file and scanning the
handful whose min/max stats overlap the predicate IS the query latency, and
a single-column sort only prunes the leading column.

How it works (all JVM codegen, zero per-row Python, ONE range shuffle):

1. Per clustering column, map the value into a B-bit integer cell id.
   Numerics/timestamps use ``width_bucket`` over the column's observed
   [min, max] (two-scalar driver metadata, like the k-means centroids);
   strings use their first 7 bytes big-endian (lexicographic order is
   preserved, so range predicates still prune).
2. Interleave the bits of the per-column cell ids into one Morton code —
   a python-generated tree of shiftright/&/shiftleft/| expressions that
   whole-stage codegen compiles flat.
3. Range-partition on the code (the one shuffle) + ``sortWithinPartitions``
   so every output file covers a compact hyper-rectangle of the key space
   and parquet row-group min/max stats are tight in EVERY clustering
   column, not just the first. Boundaries are the code's quantiles and
   rows go to their file exactly (lake.table.place), so the files are the
   same in every session (``repartitionByRange`` seeds its sample with the
   RDD id: one 8-file layout touched 4-6 files for one range in 40 runs).

Pruning is then free at read time: Spark's parquet source skips row groups
whose stats don't overlap the pushed predicate, for predicates on ANY
z-ordered column. `zorder_file_overlap` computes the footer-stats overlap
fraction directly (deterministic, no Spark metrics scraping) — the tests
assert a z-ordered layout prunes the NON-leading column several times
better than a linear sort at equal file counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "zorder_code",
    "zorder_layout",
    "write_zordered",
    "zorder_file_overlap",
]

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _rank_value(col: Column, dtype: T.DataType) -> Column:
    """Order-preserving numeric proxy of a column (pre-normalization).
    Strings use their first 7 bytes big-endian (a 56-bit lexicographic
    prefix — conv() parses hex, rpad keeps 'a' < 'ab' ordering); a shared
    corpus prefix is harmless because the cell mapping range-normalizes
    over the OBSERVED [min, max], not the raw bit space."""
    if isinstance(dtype, _NUMERIC + (T.TimestampType, T.DateType, T.BooleanType)):
        return col.cast("double")
    if isinstance(dtype, T.StringType):
        hx = F.rpad(F.substring(F.hex(F.encode(col, "utf-8")), 1, 14), 14, "0")
        return F.conv(hx, 16, 10).cast("double")
    raise TypeError(f"zorder does not support column type {dtype}")


def _cell(v: Column, lo, hi, bits: int) -> Column:
    """Map an order proxy into [0, 2**bits) via equi-width buckets over
    the observed [lo, hi]. NULLs -> cell 0 (they sort first, same contract
    as Spark's nulls-first ordering)."""
    n = 1 << bits
    lo_f, hi_f = float(lo), float(hi)
    if hi_f <= lo_f:  # constant column: everything in cell 0
        return F.lit(0).cast("long")
    # width_bucket returns 0 below lo and n+1 above hi; clamp to [0, n-1]
    b = F.width_bucket(v, F.lit(lo_f), F.lit(hi_f), F.lit(n)) - F.lit(1)
    cell = F.least(F.greatest(b, F.lit(0)), F.lit(n - 1))
    return F.coalesce(cell, F.lit(0)).cast("long")


def zorder_code(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int | None = None,
    stats: dict[str, tuple[float, float]] | None = None,
    stats_df: DataFrame | None = None,
) -> Column:
    """Morton interleave of the given columns' cell ids as ONE codegen
    expression. Column bounds (min/max of each order proxy) come from a
    single column-pruned aggregate pass — bounded driver metadata. Pass
    `stats` to reuse known bounds, or `stats_df` to compute them from a
    cheaper superset of `df` (bounds only need to COVER the data, so e.g.
    the pre-LWW raw scan works for a compaction rewrite)."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder needs 2-4 columns (1 column = plain sort)")
    bits = bits_per_col or (60 // len(cols))
    bits = min(bits, 60 // len(cols), 16)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in dtypes:
            raise KeyError(f"column {c!r} not in DataFrame")

    proxies = {c: _rank_value(F.col(c), dtypes[c]) for c in cols}
    if stats is None:
        aggs = []
        for c in cols:
            aggs += [
                F.min(proxies[c]).alias(f"__lo_{c}"),
                F.max(proxies[c]).alias(f"__hi_{c}"),
            ]
        row = (stats_df if stats_df is not None else df).agg(*aggs).collect()[0]
        d = row.asDict()
        stats = {c: (d[f"__lo_{c}"] or 0.0, d[f"__hi_{c}"] or 0.0) for c in cols}

    cells = [_cell(proxies[c], stats[c][0], stats[c][1], bits) for c in cols]
    # interleave: output bit (i*ncols + j) = bit i of cells[j]
    code: Column = F.lit(0).cast("long")
    ncols = len(cols)
    one = F.lit(1).cast("long")
    for i in range(bits):
        for j, cell in enumerate(cells):
            code = code.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cell, i).bitwiseAND(one), i * ncols + j
                ).cast("long")
            )
    return code


def zorder_layout(
    df: DataFrame, cols: list[str], num_files: int, bits_per_col: int | None = None
) -> DataFrame:
    """Cluster rows on the Morton curve: ONE range shuffle on the z-code
    (quantile boundaries — balanced output files regardless of skew in the
    code distribution) + partition-local sort. The helper columns are
    dropped before write so the layout is invisible to readers."""
    from datachain_spark.lake.table import TASK_COL, place

    z = df.withColumn("__z", zorder_code(df, cols, bits_per_col))
    qs = [i / num_files for i in range(1, num_files)]
    bounds = z.agg(F.percentile_approx("__z", qs)).first()[0] if qs else []
    part = " + ".join(f"cast(__z >= {int(b)} as int)" for b in bounds) or "0"
    return place(z, part, num_files).sortWithinPartitions("__z").drop("__z", TASK_COL)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 64,
    bits_per_col: int | None = None,
) -> None:
    zorder_layout(df, cols, num_files, bits_per_col).write.mode(
        "overwrite"
    ).parquet(path)


def zorder_file_overlap(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(files whose [min,max] footer stats overlap [lo,hi], total files) —
    the deterministic data-skipping measure: Spark's parquet reader row-
    group filter skips exactly the non-overlapping ones for a pushed
    BETWEEN predicate. Driver-side footer reads only (O(files) metadata,
    the same regime as the lake table's lineage stats)."""
    import os

    import pyarrow.parquet as pq

    total = overlap = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        f_lo = f_hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                f_lo = f_hi = None
                break
            f_lo = st.min if f_lo is None else min(f_lo, st.min)
            f_hi = st.max if f_hi is None else max(f_hi, st.max)
        total += 1
        if f_lo is None or (f_hi >= lo and f_lo <= hi):
            overlap += 1  # unknown stats = cannot skip
    return overlap, total
