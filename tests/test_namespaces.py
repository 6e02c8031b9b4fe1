"""Namespaces/projects facade + listings() enumeration, mirroring the
reference's behaviors (reference lib/namespaces.py, lib/projects.py,
lib/dc/datasets.py:29-52, lib/dc/listings.py:1-147)."""

from __future__ import annotations

import time

import pytest

from datachain_spark import chain as dc
from datachain_spark.namespaces import (
    InvalidDatasetNameError,
    NamespaceNotFoundError,
    create_namespace,
    create_project,
    dataset_root,
    delete_namespace,
    delete_project,
    get_namespace,
    get_project,
    list_namespaces,
    list_projects,
    parse_dataset_name,
)


def test_parse_dataset_name():
    assert parse_dataset_name("ds") == (None, None, "ds")
    assert parse_dataset_name("proj.ds") == (None, "proj", "ds")
    assert parse_dataset_name("ns.proj.ds") == ("ns", "proj", "ds")
    with pytest.raises(InvalidDatasetNameError):
        parse_dataset_name("a.b.c.d")
    with pytest.raises(InvalidDatasetNameError):
        parse_dataset_name("")
    with pytest.raises(InvalidDatasetNameError):
        parse_dataset_name("ns..ds")


def test_dataset_root_layout(tmp_path):
    root = str(tmp_path)
    assert dataset_root(root, "ds") == f"{root}/ds"
    assert dataset_root(root, "ns.proj.ds") == f"{root}/ns/proj/ds"
    # bare project.name lands under the default namespace
    assert dataset_root(root, "proj.ds") == f"{root}/local/proj/ds"


def test_namespace_project_crud(tmp_path):
    root = str(tmp_path)
    ns = create_namespace(root, "dev", "Dev namespace")
    assert ns.name == "dev" and ns.descr == "Dev namespace"
    with pytest.raises(FileExistsError):
        create_namespace(root, "dev")
    assert get_namespace(root, "dev").uuid == ns.uuid
    with pytest.raises(NamespaceNotFoundError):
        get_namespace(root, "ghost")
    # the implicit default is always listed first
    names = [n.name for n in list_namespaces(root)]
    assert names == ["local", "dev"]

    # project creation auto-creates its namespace
    p = create_project(root, "team", "pipelines", "ETL")
    assert get_namespace(root, "team").name == "team"
    assert get_project(root, "team", "pipelines").uuid == p.uuid
    assert [x.name for x in list_projects(root, "team")] == ["pipelines"]
    assert {(x.namespace, x.name) for x in list_projects(root)} == {
        ("team", "pipelines")
    }

    # guarded deletes: non-empty refuses
    create_project(root, "dev", "p1")
    with pytest.raises(ValueError):
        delete_namespace(root, "dev")
    delete_project(root, "dev", "p1")
    delete_namespace(root, "dev")
    with pytest.raises(NamespaceNotFoundError):
        get_namespace(root, "dev")


def test_save_read_datasets_across_namespaces(spark, tmp_path):
    root = str(tmp_path / "catalog")
    ch = dc.read_values(spark, id=[1, 2, 3], v=["a", "b", "c"])
    ch.catalog_root = root
    # flat (default) + two qualified datasets; project records auto-create
    ch.save("flat_ds")
    ch.save("dev.etl.events")
    ch.save("dev.ml.events")

    assert get_project(root, "dev", "etl").name == "etl"
    got = dc.read_dataset(spark, "dev.etl.events", catalog_root=root)
    assert sorted(got.to_values("id")) == [1, 2, 3]
    flat = dc.read_dataset(spark, "flat_ds", catalog_root=root)
    assert sorted(flat.to_values("v")) == ["a", "b", "c"]

    # enumeration: qualified names, with namespace/project filtering
    assert dc.datasets(root) == ["dev.etl.events", "dev.ml.events", "flat_ds"]
    assert dc.datasets(root, namespace="dev") == [
        "dev.etl.events",
        "dev.ml.events",
    ]
    assert dc.datasets(root, namespace="dev", project="ml") == ["dev.ml.events"]
    assert dc.datasets(root, namespace="local") == ["flat_ds"]

    # same short name in two projects stays two distinct datasets
    two = dc.read_dataset(spark, "dev.ml.events", catalog_root=root)
    assert two.count() == 3


def test_listings_enumeration(spark, tmp_path):
    from datachain_spark.sources.storage import listings, read_storage

    data = tmp_path / "data"
    data.mkdir()
    for n in ["a.txt", "b.txt", "c.csv"]:
        (data / n).write_text(n)
    cache = str(tmp_path / "cache")

    read_storage(spark, str(data), type="meta", cache_root=cache)
    read_storage(spark, str(data), type="meta", cache_root=cache, glob="*.txt")

    ls = listings(spark, cache).orderBy("glob").collect()
    assert len(ls) == 2
    by_glob = {r["glob"]: r for r in ls}
    assert by_glob[None]["num_objects"] == 3
    assert by_glob["*.txt"]["num_objects"] == 2
    assert all(r["uri"] == str(data) for r in ls)
    assert all(r["expired"] is False for r in ls)
    assert all(r["recursive"] for r in ls)

    # TTL status flips once the crawl is older than ttl_seconds
    time.sleep(0.05)
    expired = listings(spark, cache, ttl_seconds=0).collect()
    assert all(r["expired"] for r in expired)


def test_delete_dataset_version_and_force(spark, tmp_path):
    """Reference delete_dataset semantics (lib/dc/datasets.py:307-383):
    no version -> latest dropped (table rewinds to parent); explicit
    semver tag -> that version dropped, files referenced by survivors
    kept; force=True -> the dataset stops existing; missing -> raises."""
    from datachain_spark.chain import DatasetNotFoundError
    from datachain_spark.lake.table import LakeTable

    root = str(tmp_path / "catalog")
    ch = dc.read_values(spark, id=[1, 2], v=["a", "b"])
    ch.catalog_root = root
    ch.save("dev.etl.ds", version="1.0.0")
    ch2 = dc.read_values(spark, id=[3], v=["c"])
    ch2.catalog_root = root
    ch2.save("dev.etl.ds", version="1.1.0")

    t = LakeTable(dataset_root(root, "dev.etl.ds"))
    n_before = len(t.versions())
    dc.delete_dataset("dev.etl.ds", catalog_root=root)  # drops latest
    t = LakeTable(dataset_root(root, "dev.etl.ds"))
    assert len(t.versions()) < n_before
    got = dc.read_dataset(spark, "dev.etl.ds", catalog_root=root, version="1.0.0")
    assert sorted(got.to_values("id")) == [1, 2]

    dc.delete_dataset("dev.etl.ds", catalog_root=root, force=True)
    with pytest.raises(DatasetNotFoundError):
        dc.delete_dataset("dev.etl.ds", catalog_root=root)
    with pytest.raises(DatasetNotFoundError):
        dc.delete_dataset("never_existed", catalog_root=root)


def test_delete_dataset_version_keeps_files_shared_with_survivors(spark, tmp_path):
    """Dropping a mid-chain version must not remove data files a surviving
    version still references: a tag alias shares its parent's files, so
    dropping the parent leaves the alias fully readable; dropping a
    version nothing shares really removes its files."""
    from datachain_spark.lake.table import LakeTable

    root = str(tmp_path / "catalog")
    ch = dc.read_values(spark, id=[1, 2], v=["a", "b"])
    ch.catalog_root = root
    ch.save("ds", version="1.0.0")
    ch2 = dc.read_values(spark, id=[3], v=["c"])
    ch2.catalog_root = root
    ch2.save("ds", version="2.0.0")  # full-snapshot: replaces 1.0.0's files
    t = LakeTable(dataset_root(root, "ds"))
    t.tag_version("2.0.1")  # alias of HEAD — shares 2.0.0's data files

    # drop the shared parent: alias must stay byte-identical
    dc.delete_dataset("ds", catalog_root=root, version="2.0.0")
    alias = dc.read_dataset(spark, "ds", catalog_root=root, version="2.0.1")
    assert sorted(alias.to_values("id")) == [3]
    with pytest.raises(KeyError):
        dc.read_dataset(spark, "ds", catalog_root=root, version="2.0.0")

    # drop the unshared old version: its files really go away
    t = LakeTable(dataset_root(root, "ds"))
    removed = t.drop_version(t.resolve("1.0.0"))
    assert removed >= 1
    head = dc.read_dataset(spark, "ds", catalog_root=root)
    assert sorted(head.to_values("id")) == [3]


def test_move_dataset_across_namespaces(spark, tmp_path):
    """Reference move_dataset (lib/dc/datasets.py:386-439): the whole
    dataset (all versions + tags) moves; src stops existing; collision
    and missing-src raise; dest project auto-creates."""
    from datachain_spark.chain import DatasetNotFoundError

    root = str(tmp_path / "catalog")
    ch = dc.read_values(spark, id=[1, 2, 3], v=["a", "b", "c"])
    ch.catalog_root = root
    ch.save("dev.animals.cats", version="1.0.0")

    dc.move_dataset("dev.animals.cats", "prod.animals.cats", catalog_root=root)
    assert dc.datasets(root) == ["prod.animals.cats"]
    got = dc.read_dataset(spark, "prod.animals.cats", catalog_root=root, version="1.0.0")
    assert sorted(got.to_values("id")) == [1, 2, 3]
    with pytest.raises(DatasetNotFoundError):
        dc.move_dataset("dev.animals.cats", "elsewhere", catalog_root=root)

    # collision: moving onto an existing dataset refuses
    ch.save("flat_two")
    with pytest.raises(FileExistsError):
        dc.move_dataset("prod.animals.cats", "flat_two", catalog_root=root)
