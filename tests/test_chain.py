"""Chain API tests — golden-value style like the reference's functional
tests (/root/reference/tests/func/test_datachain.py)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datachain_spark import chain as dc
from datachain_spark.chain import C, Chain


@pytest.fixture()
def ch(spark):
    return dc.read_values(
        spark,
        id=[1, 2, 3, 4, 5],
        name=["alpha", "beta", "gamma", "delta", "epsilon"],
        v=[10.0, 20.0, 30.0, 40.0, 50.0],
        grp=["a", "b", "a", "b", "a"],
    )


def test_select_filter_mutate_order(ch):
    out = (
        ch.filter(C("v") > 15)
        .mutate(v2=C("v") * 2, tag=F.upper("name"))
        .select("id", "v2", "tag")
        .order_by("id", descending=True)
        .to_list()
    )
    assert out[0] == (5, 100.0, "EPSILON")
    assert len(out) == 4


def test_glob_regexp(ch):
    assert ch.filter(C.glob("name", "*ta")).to_values("name") == ["beta", "delta"]
    assert ch.filter(C.regexp("name", "^g")).to_values("name") == ["gamma"]


def test_group_by_and_scalars(ch):
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in ch.group_by("grp", n=F.count(F.lit(1)), total=F.sum("v")).to_list()
    )
    assert rows == {"a": (3, 90.0), "b": (2, 60.0)}
    assert ch.count() == 5
    assert ch.sum("v") == 150.0
    assert ch.min("v") == 10.0


def test_merge_union_subtract(spark, ch):
    right = dc.read_values(spark, id=[1, 2, 6], name=["x", "y", "z"], score=[0.1, 0.2, 0.3])
    merged = ch.merge(right, on="id").order_by("id")
    row = merged.to_records()[0]
    assert row["name"] == "alpha" and row["right_name"] == "x" and row["score"] == 0.1
    assert merged.count() == 5  # left outer keeps all left rows
    inner = ch.merge(right, on="id", inner=True)
    assert inner.count() == 2
    uni = ch.union(ch)
    assert uni.count() == 10
    sub = ch.subtract(right, on="id")
    assert sorted(sub.to_values("id")) == [3, 4, 5]


def test_distinct_sample_chunk_offset(ch):
    assert ch.union(ch).distinct("grp").count() == 2
    assert ch.sample(3).count() == 3
    chunks = [ch.chunk(i, 3, "id").count() for i in range(3)]
    assert sum(chunks) == 5
    assert ch.offset(2, "id").count() == 3
    assert sorted(ch.offset(2, "id").to_values("id")) == [3, 4, 5]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="order"):
        ch.offset(2)
    a, b = ch.train_test_split([0.5, 0.5])
    assert a.count() + b.count() == 5


def test_train_test_split_deterministic(spark):
    import pytest as _pytest

    import datachain_spark as dc

    ch = dc.read_values(spark, id=list(range(500)))
    tr, te = ch.train_test_split([0.7, 0.3])
    tr_ids, te_ids = set(tr.to_values("id")), set(te.to_values("id"))
    # disjoint + exhaustive
    assert not (tr_ids & te_ids) and len(tr_ids | te_ids) == 500
    # roughly weighted
    assert 280 <= len(tr_ids) <= 420
    # row-stable: same rows land in the same split after a repartition
    tr2, te2 = dc.Chain(ch.df.repartition(7)).train_test_split([0.7, 0.3])
    assert set(tr2.to_values("id")) == tr_ids
    # different seed -> different assignment; same seed -> identical
    tr3, _ = ch.train_test_split([0.7, 0.3], seed=99)
    assert set(tr3.to_values("id")) != tr_ids
    a, b, c = ch.train_test_split([2, 1, 1])
    assert len(set(a.to_values("id"))) + len(set(b.to_values("id"))) + len(
        set(c.to_values("id"))
    ) == 500
    with _pytest.raises(ValueError, match="two elements"):
        ch.train_test_split([1.0])
    with _pytest.raises(ValueError, match="non-negative"):
        ch.train_test_split([0.5, -0.5])


def test_map_gen_agg_batch(ch):
    out = ch.map(lambda v: v + 1, output={"v_inc": float}, params=["v"])
    assert sorted(out.to_values("v_inc")) == [11.0, 21.0, 31.0, 41.0, 51.0]

    gen = ch.gen(
        lambda id, name: [(id, w) for w in name[:2]],
        output={"id": int, "ch": str},
        params=["id", "name"],
    )
    assert gen.count() == 10

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"grp": [pdf["grp"].iloc[0]], "vsum": [pdf["v"].sum()]})

    agged = ch.agg(summarize, partition_by="grp", output={"grp": str, "vsum": float})
    assert dict(agged.to_list()) == {"a": 90.0, "b": 60.0}

    batched = ch.map_batches(lambda pdf: pdf.assign(v=pdf.v * 10))
    assert batched.sum("v") == 1500.0


def test_diff_chain(spark, ch):
    new = ch.mutate(v=F.when(C("id") == 1, 999.0).otherwise(C("v"))).filter(C("id") != 5)
    d = new.diff(ch, on="id", same=True)
    statuses = dict((r["id"], r["diff_status"]) for r in d.to_records())
    assert statuses[1] == "M" and statuses[5] == "D" and statuses[2] == "S"


def test_save_read_dataset_versioning(spark, ch, tmp_path):
    cat = str(tmp_path / "catalog")
    c = Chain(ch.df, catalog_root=cat)
    c.save("pets")
    c2 = Chain(c.filter(C("id") <= 2).df, catalog_root=cat)
    c2.save("pets")
    latest = dc.read_dataset(spark, "pets", catalog_root=cat)
    assert latest.count() == 2
    v1 = dc.read_dataset(spark, "pets", version="v1.0.0", catalog_root=cat)
    assert v1.count() == 5
    v2 = dc.read_dataset(spark, "pets", version="v1.0.1", catalog_root=cat)
    assert v2.count() == 2
    assert dc.datasets(cat) == ["pets"]
    # semver SPECIFIERS resolve to the highest matching tag (reference
    # lib/dc/datasets.py:27-224 accepts ">=1.0,<2" style)
    assert dc.read_dataset(spark, "pets", version=">=1.0.0", catalog_root=cat).count() == 2
    assert dc.read_dataset(spark, "pets", version="<=1.0.0", catalog_root=cat).count() == 5
    assert dc.read_dataset(spark, "pets", version="~=1.0", catalog_root=cat).count() == 2
    assert (
        dc.read_dataset(spark, "pets", version=">1.0.0,<2", catalog_root=cat).count() == 2
    )
    import pytest as _pytest

    with _pytest.raises(KeyError, match="specifier"):
        dc.read_dataset(spark, "pets", version=">=9", catalog_root=cat)


def test_read_csv_json_parquet_roundtrip(spark, ch, tmp_path):
    ch.to_parquet(str(tmp_path / "p"))
    assert dc.read_parquet(spark, str(tmp_path / "p")).count() == 5
    ch.to_csv(str(tmp_path / "c"))
    assert dc.read_csv(spark, str(tmp_path / "c")).count() == 5
    ch.to_json(str(tmp_path / "j"))
    assert dc.read_json(spark, str(tmp_path / "j")).count() == 5


def test_collect_variants(ch):
    assert len(ch.to_records()) == 5
    assert len(list(ch.to_iter())) == 5
    assert isinstance(ch.to_pandas(), pd.DataFrame)
    assert ch.select_except("grp").columns == ["id", "name", "v"]


# ---------- to_pytorch shim ----------
def test_to_pytorch_raises_without_torch(spark):
    ch = dc.read_values(spark, id=[1, 2, 3])
    try:
        import torch  # noqa: F401

        pytest.skip("torch present; ImportError path not reachable")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="torch"):
        ch.to_pytorch()


def test_to_pytorch_iterates_with_stub_torch(spark, monkeypatch):
    """Exercise the IterableDataset logic with a minimal torch stand-in:
    single-worker full iteration, then 2-worker sharding via chunk()."""
    import sys
    import types

    torch_mod = types.ModuleType("torch")
    utils_mod = types.ModuleType("torch.utils")
    data_mod = types.ModuleType("torch.utils.data")

    class IterableDataset:  # noqa: N801 - torch name
        pass

    worker = {"info": None}
    data_mod.IterableDataset = IterableDataset
    data_mod.get_worker_info = lambda: worker["info"]
    torch_mod.utils = utils_mod
    utils_mod.data = data_mod
    for name, mod in [
        ("torch", torch_mod),
        ("torch.utils", utils_mod),
        ("torch.utils.data", data_mod),
    ]:
        monkeypatch.setitem(sys.modules, name, mod)

    ch = dc.read_values(spark, id=[1, 2, 3, 4], label=["a", "b", "c", "d"])
    ds = ch.to_pytorch(transform=lambda rec: (rec["id"], rec["label"].upper()))
    assert sorted(ds) == [(1, "A"), (2, "B"), (3, "C"), (4, "D")]

    # two DataLoader workers: shards are disjoint and cover everything
    class WInfo:
        def __init__(self, wid, n):
            self.id, self.num_workers = wid, n

    shards = []
    for wid in range(2):
        worker["info"] = WInfo(wid, 2)
        shards.append(sorted(r["id"] for r in ch.to_pytorch()))
    assert sorted(shards[0] + shards[1]) == [1, 2, 3, 4]
    assert set(shards[0]).isdisjoint(shards[1])
