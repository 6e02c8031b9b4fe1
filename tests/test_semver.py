"""Semver module tests (mirrors reference tests/unit/test_semver.py)."""

import os

import pytest

from datachain_spark import chain as dc
from datachain_spark import semver
from datachain_spark.chain import C, Chain
from datachain_spark.lake.table import LakeTable
from datachain_spark.namespaces import dataset_root


@pytest.mark.parametrize(
    "version,expected",
    [
        ("0.0.0", (0, 0, 0)),
        ("0.1.2", (0, 1, 2)),
        ("10.20.30", (10, 20, 30)),
        ("999999.999999.999999", (999999, 999999, 999999)),
    ],
)
def test_parse(version, expected):
    assert semver.parse(version) == expected


@pytest.mark.parametrize(
    "version",
    ["0", "1.2", "1.2.-3", "1.2.3-alpha+01", "dev", "1000000.0.0"],
)
def test_parse_wrong_format(version):
    with pytest.raises(ValueError) as excinfo:
        semver.parse(version)
    assert "Invalid version" in str(excinfo.value)


def test_create_and_bounds():
    assert semver.create() == "0.0.0"
    assert semver.create(1, 2, 3) == "1.2.3"
    with pytest.raises(ValueError):
        semver.create(-1)
    with pytest.raises(ValueError):
        semver.create(semver.MAX_VERSION_NUMBER + 1)


def test_value_total_order_and_int64():
    assert semver.value("0.0.0") == 0
    assert semver.value("0.0.1") == 1
    assert semver.value("0.1.0") == 1_000_000
    assert semver.value("999999.999999.999999") < 2**63 - 1
    assert semver.value("1.0.0") > semver.value("0.999999.999999")


@pytest.mark.parametrize(
    "v1,v2,expected",
    [("1.2.3", "1.2.3", 0), ("1.2.3", "1.2.4", -1), ("2.0.0", "1.999999.0", 1)],
)
def test_compare(v1, v2, expected):
    assert semver.compare(v1, v2) == expected


# ---------- PEP 440 ~= compatible release on saved datasets ----------
def test_semver_compatible_release_pins_minor(spark, tmp_path):
    cat = str(tmp_path / "cat")
    base = dc.read_values(spark, id=[1, 2, 3])
    Chain(base.df, catalog_root=cat).save("d", version="1.2.3")
    Chain(base.filter(C("id") <= 2).df, catalog_root=cat).save("d", version="1.2.9")
    Chain(base.filter(C("id") <= 1).df, catalog_root=cat).save("d", version="1.9.0")
    # ~=1.2.3 means >=1.2.3,<1.3.0 — must NOT match 1.9.0
    assert dc.read_dataset(spark, "d", version="~=1.2.3", catalog_root=cat).count() == 2
    # ~=1.2 means >=1.2,<2.0 — 1.9.0 matches
    assert dc.read_dataset(spark, "d", version="~=1.2", catalog_root=cat).count() == 1


@pytest.mark.parametrize(
    "tag,expected",
    [("1.2.3", (1, 2, 3)), ("v1.2.3", (1, 2, 3)), ("v1.2", None), ("tag3", None), ("vv1.2.3", None)],
)
def test_parse_tag(tag, expected):
    assert semver.parse_tag(tag) == expected


@pytest.mark.parametrize(
    "version,spec,expected",
    [
        ("1.2.0", ">=1.0.0", True),
        ("v1.2.0", ">=1,<2", True),
        ("2.0.0", ">=1,<2", False),
        ("1.2.9", "~=1.2.3", True),
        ("1.9.0", "~=1.2.3", False),
        ("1.9.0", "~=1.2", True),
        ("2.0.0", "~=1.2", False),
        ("1.0.0", "==1", True),
        ("1.0.0", "=v1.0.0", True),
        ("1.0.0", "!=1.0.0", False),
        ("1.0.1", ">1.0.0", True),
        ("1.0.0", "<=1.0.0", True),
        ("1.0.0", "<1", False),
        ("1.0.0", ">=1, 1.0.0", True),
    ],
)
def test_matches(version, spec, expected):
    assert semver.matches(version, spec) is expected


def test_is_specifier():
    assert all(semver.is_specifier(s) for s in (">=1", "<2", "==1", "=1", "!=1", "~=1.2"))
    assert not any(semver.is_specifier(s) for s in ("1.2.0", "v1.2.0", "2", "tag3"))


@pytest.fixture()
def tagged(spark, tmp_path):
    """Dataset "d": snapshot 1 tagged "1.2.0" (3 rows), then a plain save
    (2 rows)."""
    cat = str(tmp_path / "cat")
    base = dc.read_values(spark, id=[1, 2, 3])
    Chain(base.df, catalog_root=cat).save("d", version="1.2.0")
    newest = Chain(base.filter(C("id") <= 2).df, catalog_root=cat).save("d")
    return cat, newest


def test_auto_tag_bumps_the_highest_tag_of_either_form(spark, tagged):
    cat, newest = tagged
    assert newest.version == "v1.2.1"
    assert dc.read_dataset(spark, "d", version=">=1.0.0", catalog_root=cat).count() == 2
    major = Chain(newest.df, catalog_root=cat).save("d", update_version="major")
    assert major.version == "v2.0.0"
    assert LakeTable(dataset_root(cat, "d")).next_tag("minor") == "v2.1.0"


def test_v_prefixed_and_bare_tags_are_one_tag(spark, tagged):
    cat, _ = tagged
    for form in ("1.2.0", "v1.2.0"):
        ch = dc.read_dataset(spark, "d", version=form, catalog_root=cat)
        assert ch.count() == 3 and ch.version == "1.2.0"
    for form in ("1.2.1", "v1.2.1"):
        ch = dc.read_dataset(spark, "d", version=form, catalog_root=cat)
        assert ch.count() == 2 and ch.version == "v1.2.1"


def test_a_taken_tag_is_refused_before_any_write(spark, tagged):
    cat, newest = tagged
    table = LakeTable(dataset_root(cat, "d"))
    units = sorted(os.listdir(table.data_dir()))
    for form in ("1.2.0", "v1.2.0", "v1.2.1", "1.2.1"):
        with pytest.raises(ValueError, match="already"):
            Chain(newest.df, catalog_root=cat).save("d", version=form)
        with pytest.raises(ValueError, match="already"):
            table.tag_version(form)
    assert table.versions() == [0, 1, 2]
    assert sorted(os.listdir(table.data_dir())) == units
    # a free-form tag is taken only by itself
    v = table.tag_version("tag3")
    assert table.resolve("tag3") == v
    with pytest.raises(ValueError, match="already"):
        table.tag_version("tag3")
    with pytest.raises(KeyError):
        table.resolve("Tag3")
    # a dropped version's tag is free again
    table.drop_version(table.resolve("1.2.0"))
    v = table.tag_version("v1.2.0", 2)
    assert table.resolve("1.2.0") == v
