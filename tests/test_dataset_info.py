"""datasets_info() tests (reference DatasetInfo surface)."""

import os

import datachain_spark as dc
from datachain_spark.chain import Chain
from datachain_spark.dataset_info import datasets_info


def test_datasets_info_stats_and_versions(spark, tmp_path):
    cat = str(tmp_path / "cat")
    ch = dc.read_values(spark, id=[1, 2, 3, 4], name=["a", "b", "c", "d"])
    saved = Chain(ch.df, catalog_root=cat).save("pets")
    Chain(saved.df.filter("id <= 2"), catalog_root=cat).save("pets")  # v2

    ns_ch = dc.read_values(spark, x=[10, 20])
    from datachain_spark.namespaces import create_namespace, create_project

    create_namespace(cat, "team")
    create_project(cat, "team", "vision")
    Chain(ns_ch.df, catalog_root=cat).save("team.vision.samples")

    info = {r["name"]: r for r in datasets_info(spark, cat).collect()}
    assert set(info) == {"pets", "samples"}

    pets = info["pets"]
    assert pets["namespace"] == "local" and pets["num_versions"] == 2
    assert pets["num_objects"] == 2  # live snapshot, not v1
    assert pets["size"] > 0 and pets["created_at"] is not None
    assert pets["version"] and pets["version"].startswith("v")

    samples = info["samples"]
    assert samples["namespace"] == "team" and samples["project"] == "vision"
    assert samples["num_objects"] == 2

    only_team = datasets_info(spark, cat, namespace="team").collect()
    assert [r["name"] for r in only_team] == ["samples"]


def test_save_description_attrs_inherited_across_versions(spark, tmp_path):
    """dataset-level metadata set at save() persists on later commits
    (reference dataset.py:423-424: description/attrs live on the dataset
    record, not the version)."""
    cat = str(tmp_path / "cat")
    ch = dc.read_values(spark, id=[1, 2, 3])
    Chain(ch.df, catalog_root=cat).save(
        "docs", description="training docs", attrs=["NLP", "location=US"]
    )
    info = datasets_info(spark, cat).collect()[0]
    assert info["description"] == "training docs"
    assert info["attrs"] == ["NLP", "location=US"]

    # a plain second save must NOT wipe the dataset metadata
    Chain(ch.df.filter("id = 1"), catalog_root=cat).save("docs")
    info = datasets_info(spark, cat).collect()[0]
    assert info["description"] == "training docs"
    assert info["attrs"] == ["NLP", "location=US"]
    assert info["num_objects"] == 1  # the new version's data is live

    # a save that SETS metadata overwrites it
    Chain(ch.df, catalog_root=cat).save("docs", description="v3 docs")
    info = datasets_info(spark, cat).collect()[0]
    assert info["description"] == "v3 docs"
    assert info["attrs"] == ["NLP", "location=US"]


def test_edit_dataset_metadata_and_rename(spark, tmp_path):
    """edit_dataset (reference catalog.py:1560-1582): metadata-only commit
    + optional rename; time travel survives the edit."""
    cat = str(tmp_path / "cat")
    ch = dc.read_values(spark, id=[1, 2])
    Chain(ch.df, catalog_root=cat).save("raw", attrs=["stage=bronze"])

    dc.edit_dataset(
        "raw", catalog_root=cat, description="cleaned", attrs=["stage=silver"]
    )
    info = datasets_info(spark, cat).collect()[0]
    assert info["description"] == "cleaned"
    assert info["attrs"] == ["stage=silver"]
    # the edit was metadata-only: data still reads back
    assert dc.read_dataset(spark, "raw", catalog_root=cat).df.count() == 2

    dc.edit_dataset("raw", catalog_root=cat, new_name="clean")
    assert dc.datasets(cat) == ["clean"]
    got = dc.read_dataset(spark, "clean", catalog_root=cat)
    assert got.df.count() == 2
    # metadata traveled with the rename
    info = datasets_info(spark, cat).collect()[0]
    assert info["name"] == "clean" and info["description"] == "cleaned"


def test_edit_props_leaves_the_tag_on_its_version(spark, tmp_path):
    """An edit is an untagged metadata commit: the tag stays on the one
    version it names, dropping that version frees the tag, and the edit
    adds no user-facing version."""
    import pytest
    from pyspark.sql import types as T

    from datachain_spark.lake.table import LakeTable

    cat = str(tmp_path / "cat")
    schema = T.StructType([T.StructField("id", T.LongType())])
    table = LakeTable.create(os.path.join(cat, "d"), schema, key_cols=[], num_buckets=1)
    tagged = table.tag_version("1.0.0")
    before = datasets_info(spark, cat).collect()[0]["num_versions"]

    edit = table.edit_props({"dataset.description": "edited"})
    assert table.tags() == [(tagged, "1.0.0")]
    assert table.resolve("1.0.0") == tagged and table.resolve() == edit
    info = datasets_info(spark, cat).collect()[0]
    assert info["num_versions"] == before and info["description"] == "edited"
    assert dc.read_dataset(spark, "d", catalog_root=cat).version == edit

    table.drop_version(table.resolve("1.0.0"))
    with pytest.raises(KeyError):
        table.resolve("1.0.0")


def test_datasets_attrs_filtering(spark, tmp_path):
    """attrs= filter semantics mirror reference has_attr
    (lib/dataset_info.py:44-58): bare, name=value, name=*."""
    cat = str(tmp_path / "cat")
    ch = dc.read_values(spark, id=[1])
    Chain(ch.df, catalog_root=cat).save("a", attrs=["NLP", "location=US"])
    Chain(ch.df, catalog_root=cat).save("b", attrs=["location=EU"])
    Chain(ch.df, catalog_root=cat).save("c")

    def names(**kw):
        return sorted(r["name"] for r in datasets_info(spark, cat, **kw).collect())

    assert names(attrs=["NLP"]) == ["a"]
    assert names(attrs=["location=EU"]) == ["b"]
    assert names(attrs=["location=*"]) == ["a", "b"]
    assert names(attrs=["location=*", "NLP"]) == ["a"]
    assert names(attrs=["missing"]) == []
    assert names() == ["a", "b", "c"]


def test_save_update_version_major_minor(spark, tmp_path):
    cat = str(tmp_path / "cat")
    ch = dc.read_values(spark, id=[1])
    s1 = Chain(ch.df, catalog_root=cat).save("v")  # v1.0.0
    Chain(s1.df, catalog_root=cat).save("v", update_version="minor")  # v1.1.0
    s3 = Chain(s1.df, catalog_root=cat).save("v", update_version="major")
    info = datasets_info(spark, cat).collect()[0]
    assert info["version"] == "v2.0.0"
    assert s3.df.count() == 1
    import pytest

    with pytest.raises(ValueError):
        Chain(s1.df, catalog_root=cat).save("v", update_version="nope")


def test_cli_datasets_edit(spark, tmp_path, capsys):
    import io

    from datachain_spark.cli import main

    cat = str(tmp_path / "cat")
    ch = dc.read_values(spark, id=[1])
    Chain(ch.df, catalog_root=cat).save("cli_ds")
    buf = io.StringIO()
    rc = main(
        [
            "datasets", "edit", "cli_ds", "--description", "via cli",
            "--attrs", "NLP,location=US", "--catalog", cat,
        ],
        spark=spark,
        out=buf,
    )
    assert rc == 0 and "edited" in buf.getvalue()
    info = datasets_info(spark, cat).collect()[0]
    assert info["description"] == "via cli"
    assert info["attrs"] == ["NLP", "location=US"]
