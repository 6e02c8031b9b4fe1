"""CLI tests (reference cli commands ls/du/find/index/show/datasets/query/
gc driven end-to-end, in-process with an injected session)."""

import io
import json
import os

import pytest

import datachain_spark as dc
from datachain_spark.chain import Chain
from datachain_spark.cli import main


def run(spark, *argv):
    buf = io.StringIO()
    code = main(list(argv), spark=spark, out=buf)
    assert code == 0
    return buf.getvalue().splitlines()


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.txt").write_bytes(b"x" * 10)
    (tmp_path / "b.csv").write_bytes(b"y" * 200)
    (tmp_path / "sub" / "c.txt").write_bytes(b"z" * 40)
    return str(tmp_path)


def test_cli_ls(spark, tree):
    assert run(spark, "ls", tree) == ["a.txt", "b.csv", "sub/c.txt"]
    assert run(spark, "ls", tree, "--no-recursive") == ["a.txt", "b.csv"]
    assert run(spark, "ls", tree, "--glob", "*.txt") == ["a.txt", "sub/c.txt"]
    long = run(spark, "ls", tree, "-l")
    assert long[0].split() == ["10", "a.txt"]


def test_cli_du(spark, tree):
    total = run(spark, "du", tree)
    assert total[0].split()[0] == "250"
    by_dir = run(spark, "du", tree, "-d", "1")
    parsed = {line.split()[1]: int(line.split()[0]) for line in by_dir}
    assert parsed == {".": 210, "sub": 40}


def test_cli_find(spark, tree):
    assert run(spark, "find", tree, "--name", "*.txt") == ["a.txt", "sub/c.txt"]
    assert run(spark, "find", tree, "--size", "100") == ["b.csv"]
    assert run(spark, "find", tree, "--iname", "B.*") == ["b.csv"]


def test_cli_index_and_clear_cache(spark, tree, tmp_path):
    cache = str(tmp_path / "cache")
    out = run(spark, "index", tree, "--cache-root", cache)
    assert out[0].startswith("indexed 3 files")
    assert any(e.startswith("lst__") for e in os.listdir(cache))
    cleared = run(spark, "clear-cache", cache)
    assert cleared[0] == "removed 1 cached listings"
    assert not any(e.startswith("lst__") for e in os.listdir(cache))


@pytest.fixture()
def catalog(spark, tmp_path):
    cat = str(tmp_path / "catalog")
    ch = dc.read_values(spark, id=[1, 2, 3], name=["a", "b", "c"])
    Chain(ch.df, catalog_root=cat).save("pets")
    return cat


def test_cli_show_and_datasets(spark, catalog):
    assert run(spark, "datasets", "ls", "--catalog", catalog) == ["pets"]
    versions = run(spark, "datasets", "ls", "--versions", "--catalog", catalog)
    assert versions[0].split("\t")[0] == "pets"

    shown = run(spark, "show", "pets", "--catalog", catalog, "--columns", "id,name")
    assert shown[0] == "id\tname"
    assert sorted(shown[1:]) == ["1\ta", "2\tb", "3\tc"]
    limited = run(spark, "show", "pets", "--catalog", catalog, "--limit", "1")
    assert len(limited) == 2

    assert run(spark, "datasets", "mv", "pets", "animals", "--catalog", catalog)[
        0
    ] == "moved pets -> animals"
    assert run(spark, "datasets", "ls", "--catalog", catalog) == ["animals"]
    run(spark, "datasets", "rm", "animals", "--force", "--catalog", catalog)
    assert run(spark, "datasets", "ls", "--catalog", catalog) == []


def test_cli_passes_version_strings_to_the_resolver(spark, catalog):
    """--version is passed through as given: a snapshot id, an auto tag
    without its "v", or the tag as saved all name the same versions."""
    smaller = dc.read_values(spark, id=[9], name=["z"])
    Chain(smaller.df, catalog_root=catalog).save("pets")  # v1.0.1
    assert run(spark, "show", "pets", "--version", "1.0.1", "--catalog", catalog)[1:] == [
        "9\tz"
    ]
    assert len(run(spark, "show", "pets", "--version", "1", "--catalog", catalog)) == 4
    assert len(run(spark, "show", "pets", "--version", "v1.0.0", "--catalog", catalog)) == 4

    out = run(spark, "datasets", "rm", "pets", "--version", "v1.0.0", "--catalog", catalog)
    assert out == ["removed pets"]
    with pytest.raises(KeyError):
        main(["show", "pets", "--version", "1.0.0", "--catalog", catalog], spark=spark)
    assert run(spark, "show", "pets", "--catalog", catalog)[1:] == ["9\tz"]
    run(spark, "datasets", "rm", "pets", "--version", "2", "--catalog", catalog)
    assert run(spark, "show", "pets", "--catalog", catalog) == ["id\tname"]


def test_cli_gc(spark, catalog):
    from datachain_spark.namespaces import dataset_root

    # plant an orphan data dir the vacuum should collect
    root = dataset_root(catalog, "pets")
    orphan = os.path.join(root, "data", "job=deadbeef", "batch=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"junk")
    old = 0  # older_than=0: everything unreferenced is eligible
    out = run(spark, "gc", "pets", "--catalog", catalog, "--older-than", str(old))
    assert out[0].startswith("pets:") and out[-1].startswith("total:")
    assert int(out[0].split()[1]) >= 1
    assert not os.path.exists(orphan)
    # live data survived
    got = dc.read_dataset(spark, "pets", catalog_root=catalog).df.count()
    assert got == 3


def test_cli_query_with_params(spark, tmp_path, catalog):
    script = tmp_path / "q.py"
    outfile = tmp_path / "result.json"
    script.write_text(
        "import json\n"
        "from datachain_spark.params import param\n"
        "import datachain_spark as dc\n"
        f"ch = dc.read_dataset(spark, 'pets', catalog_root={str(catalog)!r})\n"
        "n = ch.df.filter(ch.df.id >= int(param('min_id', '0'))).count()\n"
        f"json.dump({{'n': n}}, open({str(outfile)!r}, 'w'))\n"
    )
    run(spark, "query", str(script), "min_id=2")
    assert json.load(open(outfile)) == {"n": 2}
