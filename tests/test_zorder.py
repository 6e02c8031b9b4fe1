"""Z-order clustering layout: Morton-code correctness, footer-stats
pruning advantage over a linear sort, string-prefix ordering, and
read-back equivalence with pushed filters.

Reference has no layout optimizer (its datasets live in SQLite); this is
the Delta OPTIMIZE ZORDER / Iceberg zorder-rewrite analog the 100 TB
deployment needs — see operators/zorder.py docstring.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datachain_spark.operators.zorder import (
    write_zordered,
    zorder_code,
    zorder_file_overlap,
    zorder_layout,
)


@pytest.fixture(scope="module")
def grid(spark):
    # 100x100 uniform grid, 4 rows per cell — both dims matter equally
    return (
        spark.range(40000)
        .select(
            (F.col("id") % 100).alias("a"),
            ((F.col("id") / 100).cast("long") % 100).alias("b"),
            F.col("id").alias("payload"),
        )
        .cache()
    )


def test_zorder_code_range_and_determinism(spark, grid):
    codes = grid.select(zorder_code(grid, ["a", "b"], bits_per_col=8).alias("z"))
    row = codes.agg(
        F.min("z").alias("lo"), F.max("z").alias("hi"), F.countDistinct("z").alias("d")
    ).collect()[0]
    assert row["lo"] >= 0 and row["hi"] < (1 << 16)
    assert row["d"] > 1000  # interleave actually spreads
    again = grid.repartition(7).select(
        zorder_code(grid, ["a", "b"], bits_per_col=8).alias("z")
    )
    assert sorted(r["z"] for r in codes.collect()) == sorted(
        r["z"] for r in again.collect()
    )


def test_zorder_prunes_nonleading_column(spark, grid, tmp_path):
    """The point of z-order: a predicate on the NON-leading column skips
    most files, which a linear sort cannot do at all."""
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "l")
    write_zordered(grid, zdir, ["a", "b"], num_files=16)
    (
        grid.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(ldir)
    )
    z_b, z_total = zorder_file_overlap(zdir, "b", 10, 19)
    l_b, l_total = zorder_file_overlap(ldir, "b", 10, 19)
    assert z_total == l_total == 16
    assert l_b == 16  # linear layout: every file spans all of b
    assert z_b <= 8, (z_b, l_b)  # z-order: most files skipped
    # the leading column still prunes too (a compact hyper-rectangle per file)
    z_a, _ = zorder_file_overlap(zdir, "a", 10, 19)
    assert z_a <= 8, z_a


def test_zorder_readback_matches_filter(spark, grid, tmp_path):
    """Layout never changes results: pushed two-column box predicate on the
    z-ordered copy returns exactly the source rows, and the filters reach
    the scan."""
    zdir = str(tmp_path / "z2")
    write_zordered(grid, zdir, ["a", "b"], num_files=8)
    back = spark.read.parquet(zdir).filter(
        (F.col("a").between(20, 29)) & (F.col("b").between(50, 54))
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(a,20)" in plan
    got = sorted(r["payload"] for r in back.collect())
    want = sorted(
        r["payload"]
        for r in grid.filter(
            (F.col("a").between(20, 29)) & (F.col("b").between(50, 54))
        ).collect()
    )
    assert got == want and len(got) == 10 * 5 * 4


def test_zorder_string_column(spark, tmp_path):
    """String cells use an order-preserving 7-byte prefix: range predicates
    on the string column still prune."""
    df = (
        spark.range(8000)
        .select(
            F.concat(
                F.lit("user_"), F.lpad((F.col("id") % 200).cast("string"), 3, "0")
            ).alias("name"),
            (F.col("id") % 97).alias("v"),
        )
    )
    zdir = str(tmp_path / "zs")
    write_zordered(df, zdir, ["name", "v"], num_files=8)
    hit, total = zorder_file_overlap(zdir, "name", "user_010", "user_019")
    # the file boundaries are the z-code's quantiles, the same in every
    # session; the claim is that a 5%-of-keyspace string range never
    # touches more than ~half the files
    assert total == 8 and hit <= 5, (hit, total)
    got = (
        spark.read.parquet(zdir)
        .filter(F.col("name").between("user_010", "user_019"))
        .count()
    )
    assert got == 10 * 40


def test_zorder_null_and_constant_columns(spark, tmp_path):
    """NULLs land in cell 0 (never dropped); a constant column degrades to
    a plain sort on the other key instead of erroring."""
    df = spark.range(1000).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 50).alias("a"),
        F.lit(7).alias("c"),
        F.col("id").alias("payload"),
    )
    out = zorder_layout(df, ["a", "c"], num_files=4)
    assert out.count() == 1000
    assert out.filter(F.col("a").isNull()).count() == 100


def test_compact_zorder_by_clusters_buckets(spark, tmp_path):
    """LakeTable.compact(zorder_by=["conv_id","turn_idx"]) rewrites dirty
    buckets with z-ordered rows: results identical to a plain compact, and
    within each bucket's file the conv_id row-group stats are tight (a
    one-conversation read skips other conversations' row groups)."""
    from datachain_spark.cdc.apply import apply_batch, transcripts_schema_v1
    from datachain_spark.lake.table import LakeTable
    from tests.test_lake_table import _events_df

    root = str(tmp_path / "t")
    table = LakeTable.create(
        root, transcripts_schema_v1(), key_cols=["conv_id", "turn_idx"], num_buckets=2
    )
    rows = [
        (c * 40 + t + 1, "U", f"conv-{c:03d}", t, "user", f"turn {t} of c{c}")
        for c in range(12)
        for t in range(20)
    ]
    apply_batch(spark, table, _events_df(spark, rows), "j", 0, compaction="off")
    v = table.compact(spark, max_segments=0, zorder_by=["conv_id", "turn_idx"])
    assert v is not None
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read(spark).collect()
    )
    assert len(got) == 240 and got[0] == ("conv-000", 0, "turn 0 of c0")
    # the compacted files carry usable conv_id min/max footer stats (the
    # thing the z-order layout exists to make tight; the quantitative
    # pruning-vs-linear proof runs on the grid fixtures above), and the
    # rows within each file really are __z-clustered: verify by recomputing
    # the z-code order of a compacted file's rows
    import os as _os

    import pyarrow.parquet as pq

    compact_dirs = [
        d for d in _os.listdir(_os.path.join(root, "data")) if d.startswith("compact=")
    ]
    assert compact_dirs
    checked = 0
    for cd in compact_dirs:
        for bdir in _os.listdir(_os.path.join(root, "data", cd)):
            full = _os.path.join(root, "data", cd, bdir)
            if not _os.path.isdir(full):
                continue
            for f in _os.listdir(full):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(_os.path.join(full, f)).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                st = md.row_group(0).column(idx["conv_id"]).statistics
                assert st is not None and st.has_min_max
                checked += 1
    assert checked > 0
    # clustered-order proof: per file, z-codes recomputed with the SAME
    # global bounds the writer used (bounds rescaling is not order-
    # preserving on a Morton curve) come out sorted
    def _sproxy(s):
        return float(int.from_bytes(s.encode()[:7].ljust(7, b"\x00"), "big"))

    convs = sorted({r[0] for r in got})
    stats = {
        "conv_id": (_sproxy(convs[0]), _sproxy(convs[-1])),
        "turn_idx": (0.0, 19.0),
    }
    for cd in compact_dirs:
        for bdir in _os.listdir(_os.path.join(root, "data", cd)):
            full = _os.path.join(root, "data", cd, bdir)
            if not _os.path.isdir(full):
                continue
            for f in _os.listdir(full):
                if not f.endswith(".parquet"):
                    continue
                one = spark.read.parquet(_os.path.join(full, f))
                z = [
                    r["z"]
                    for r in one.select(
                        zorder_code(
                            one, ["conv_id", "turn_idx"], stats=stats
                        ).alias("z")
                    ).collect()
                ]
                assert z == sorted(z), f
