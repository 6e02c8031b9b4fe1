"""Chain.merge_into — dataset-level MERGE (Delta/Iceberg MERGE analog):
upsert/insert/delete into a saved bucketed dataset via the one-shuffle
CDC apply, with watermark-ordered successive merges, schema evolution,
and changelog visibility.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest

import datachain_spark as dc
from datachain_spark.chain import Chain
from datachain_spark.lake.table import LakeTable
from datachain_spark.namespaces import dataset_root


def _save_base(spark, cat):
    ch = Chain(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id INT, s STRING, v DOUBLE"
        )
    )
    ch.catalog_root = cat
    ch.save("tgt", key_cols=["id"], num_buckets=4)
    return ch


def _rows(spark, cat, name="tgt"):
    df = dc.read_dataset(spark, name, catalog_root=cat).df
    return sorted(tuple(r) for r in df.select("id", "s", "v").collect())


def test_merge_into_upsert_insert_delete(spark, tmp_path):
    cat = str(tmp_path / "cat")
    _save_base(spark, cat)
    src = Chain(
        spark.createDataFrame(
            [(2, "B!", 21.0, False), (4, "d", 40.0, False), (3, None, None, True)],
            "id INT, s STRING, v DOUBLE, is_del BOOLEAN",
        )
    )
    src.catalog_root = cat
    out = src.merge_into("tgt", on=["id"], delete_col="is_del")
    assert out["rows_upserted"] == 2 and out["rows_deleted"] == 1
    assert _rows(spark, cat) == [
        (1, "a", 10.0),
        (2, "B!", 21.0),
        (4, "d", 40.0),
    ]


def test_merge_into_later_merge_wins_and_changelog(spark, tmp_path):
    cat = str(tmp_path / "cat")
    _save_base(spark, cat)

    def merge(rows):
        c = Chain(spark.createDataFrame(rows, "id INT, s STRING, v DOUBLE"))
        c.catalog_root = cat
        return c.merge_into("tgt")

    merge([(1, "first", 1.0)])
    merge([(1, "second", 2.0)])
    assert _rows(spark, cat)[0] == (1, "second", 2.0)
    # both merges are ordinary CDC commits: visible in the changelog
    table = LakeTable(dataset_root(cat, "tgt"))
    ch = table.read_changes(spark, 1)  # after the save commit
    got = sorted(
        (r["id"], r["s"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [(1, "first", "upsert"), (1, "second", "upsert")]


def test_merge_into_schema_evolution_and_full_row_semantics(spark, tmp_path):
    cat = str(tmp_path / "cat")
    _save_base(spark, cat)
    src = Chain(
        spark.createDataFrame([(2, "B2", 22.0, "extra!")], "id INT, s STRING, v DOUBLE, note STRING")
    )
    src.catalog_root = cat
    out = src.merge_into("tgt")
    assert out["evolved"] == ["note"]
    df = dc.read_dataset(spark, "tgt", catalog_root=cat).df
    rows = {r["id"]: (r["s"], r["note"]) for r in df.collect()}
    assert rows[2] == ("B2", "extra!") and rows[1] == ("a", None)
    # full-row upsert: a source missing a payload column NULLs it
    src2 = Chain(spark.createDataFrame([(1, 99.0)], "id INT, v DOUBLE"))
    src2.catalog_root = cat
    src2.merge_into("tgt")
    rows = {
        r["id"]: (r["s"], r["v"])
        for r in dc.read_dataset(spark, "tgt", catalog_root=cat).df.collect()
    }
    assert rows[1] == (None, 99.0)


def test_merge_into_lsn_col_orders_in_batch_duplicates(spark, tmp_path):
    cat = str(tmp_path / "cat")
    _save_base(spark, cat)
    src = Chain(
        spark.createDataFrame(
            [(1, "older", 0.0, 100), (1, "newer", 1.0, 200)],
            "id INT, s STRING, v DOUBLE, seq LONG",
        )
    )
    src.catalog_root = cat
    src.merge_into("tgt", lsn_col="seq")
    assert _rows(spark, cat)[0] == (1, "newer", 1.0)


def test_merge_into_validation(spark, tmp_path):
    cat = str(tmp_path / "cat")
    flat = Chain(spark.createDataFrame([(1, "x")], "id INT, s STRING"))
    flat.catalog_root = cat
    flat.save("flat")  # no key_cols
    src = Chain(spark.createDataFrame([(1, "y")], "id INT, s STRING"))
    src.catalog_root = cat
    with pytest.raises(ValueError, match="not a merge target"):
        src.merge_into("flat")
    _save_base(spark, cat)
    with pytest.raises(ValueError, match="does not match"):
        src.merge_into("tgt", on=["s"])
    bad = Chain(spark.createDataFrame([("y",)], "s STRING"))
    bad.catalog_root = cat
    with pytest.raises(ValueError, match="missing key columns"):
        bad.merge_into("tgt")


def test_merge_into_lsn_col_not_leaked_into_schema(spark, tmp_path):
    """A non-'lsn' ordering column is consumed into the WAL order and must
    NOT ride along as a payload column (it would silently evolve the
    target schema via apply_batch's candidate-column path — r5 ADVICE)."""
    cat = str(tmp_path / "cat")
    _save_base(spark, cat)
    src = Chain(
        spark.createDataFrame(
            [(2, "b2", 25.0, 100), (4, "d", 40.0, 101)],
            "id INT, s STRING, v DOUBLE, my_order LONG",
        )
    )
    src.catalog_root = cat
    src.merge_into("tgt", lsn_col="my_order")
    df = dc.read_dataset(spark, "tgt", catalog_root=cat).df
    assert "my_order" not in df.columns, df.columns
    assert _rows(spark, cat) == [
        (1, "a", 10.0),
        (2, "b2", 25.0),
        (3, "c", 30.0),
        (4, "d", 40.0),
    ]


# ---------- bucketed save -> CDC merge target ----------
def test_bucketed_save_is_cdc_merge_target(spark, tmp_path):
    from datachain_spark.cdc.apply import apply_batch

    cat = str(tmp_path / "cat")
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    base = spark.createDataFrame(
        [(f"c{i}", 0, "user", f"text {i}", ts) for i in range(20)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    saved = Chain(base, catalog_root=cat).save(
        "corpus", key_cols=["conv_id", "turn_idx"], num_buckets=4
    )
    assert saved.count() == 20
    table = LakeTable(f"{cat}/corpus")
    snap = table.snapshot()
    assert snap.num_buckets == 4 and snap.key_cols == ["conv_id", "turn_idx"]
    # bucket pruning is real: each bucket holds only its keys
    some_bucket = sorted(snap.buckets)[0]
    pruned = table.read(spark, buckets=[some_bucket])
    assert 0 < pruned.count() < 20

    # now apply a CDC batch directly onto the SAVED dataset: update c0,
    # delete c1, insert a brand-new key
    events = spark.createDataFrame(
        [
            ("U", 100, "c0", 0, "user", "updated!", ts),
            ("D", 101, "c1", 0, None, None, ts),
            ("I", 102, "c_new", 0, "assistant", "fresh", ts),
        ],
        "op string, lsn long, conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    apply_batch(spark, table, events, job_id="j", batch_id=0, normalize=False)
    final = {r["conv_id"]: r["text"] for r in table.read(spark).collect()}
    assert len(final) == 20  # 20 base - 1 delete + 1 insert
    assert final["c0"] == "updated!"
    assert "c1" not in final
    assert final["c_new"] == "fresh"
    # idempotent replay is a no-op on the saved-table target too
    assert apply_batch(spark, table, events, job_id="j", batch_id=0)["skipped"] == "ledger"


def test_save_rekey_refused(spark, tmp_path):
    cat = str(tmp_path / "cat")
    base = dc.read_values(spark, conv_id=["a"], v=[1])
    Chain(base.df, catalog_root=cat).save("d", key_cols=["conv_id"], num_buckets=2)
    with pytest.raises(ValueError, match="key_cols"):
        Chain(base.df, catalog_root=cat).save("d", key_cols=["v"])
