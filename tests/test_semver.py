"""Semver module tests (mirrors reference tests/unit/test_semver.py)."""

import pytest

from datachain_spark import chain as dc
from datachain_spark import semver
from datachain_spark.chain import C, Chain


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
