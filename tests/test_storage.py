"""read_storage / file_diff: local-dir listings as File struct rows
(reference lib/dc/storage.py:21-262, datachain.py:1998-2069; listing cases
mirror /root/reference/tests/func/test_datachain.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datachain_spark.sources.storage import (
    file_diff,
    parse_tabular,
    read_storage,
    to_storage,
)


def _mk_tree(root):
    os.makedirs(os.path.join(root, "sub"), exist_ok=True)
    with open(os.path.join(root, "a.txt"), "w") as f:
        f.write("alpha")
    with open(os.path.join(root, "b.bin"), "wb") as f:
        f.write(b"\x00\x01\x02")
    with open(os.path.join(root, "sub", "c.txt"), "w") as f:
        f.write("gamma content")
    return root


def test_read_storage_meta_recursive_and_glob(spark, tmp_path):
    root = _mk_tree(str(tmp_path / "tree"))
    files = read_storage(spark, root, type="meta")
    rows = {r["file"]["path"]: r["file"] for r in files.collect()}
    assert set(rows) == {"a.txt", "b.bin", "sub/c.txt"}
    f = rows["a.txt"]
    assert f["source"] == root and f["size"] == 5 and f["is_latest"]
    assert f["last_modified"] is not None and len(f["etag"]) == 32

    # glob filters file names; recursive=False sees only the top level
    only_txt = read_storage(spark, root, type="meta", glob="*.txt")
    assert {r["file"]["path"] for r in only_txt.collect()} == {"a.txt", "sub/c.txt"}
    flat = read_storage(spark, root, type="meta", recursive=False)
    assert {r["file"]["path"] for r in flat.collect()} == {"a.txt", "b.bin"}


def test_read_storage_binary_and_text(spark, tmp_path):
    root = _mk_tree(str(tmp_path / "tree"))
    data = {
        r["file"]["path"]: bytes(r["data"])
        for r in read_storage(spark, root, type="binary").collect()
    }
    assert data["b.bin"] == b"\x00\x01\x02" and data["a.txt"] == b"alpha"
    text = {
        r["file"]["path"]: r["text"]
        for r in read_storage(spark, root, type="text", glob="*.txt").collect()
    }
    assert text == {"a.txt": "alpha", "sub/c.txt": "gamma content"}


def test_read_storage_meta_prunes_content(spark, tmp_path):
    """A metadata-only listing must not read file bytes: the physical plan
    prunes `content` out of the binaryFile scan."""
    root = _mk_tree(str(tmp_path / "tree"))
    df = read_storage(spark, root, type="meta")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan


def test_file_diff_statuses(spark, tmp_path):
    import time

    root = _mk_tree(str(tmp_path / "tree"))
    # localCheckpoint MATERIALIZES the old listing: persist() is not enough
    # because update=True's refreshByPath invalidates cached plans over the
    # same path (the reference's analog is saving the listing as a lst__
    # dataset, lib/listing.py:46-61)
    before = read_storage(spark, root, type="meta").localCheckpoint()
    # mutate: modify a.txt (M), delete b.bin (D), add d.txt (A)
    time.sleep(0.01)
    with open(os.path.join(root, "a.txt"), "w") as f:
        f.write("alpha-CHANGED")
    os.remove(os.path.join(root, "b.bin"))
    with open(os.path.join(root, "d.txt"), "w") as f:
        f.write("new")
    # update=True: invalidate the session file-status cache, or the second
    # listing returns the pre-mutation statuses (reference `update` flag)
    after = read_storage(spark, root, type="meta", update=True)
    d = {
        r["file"]["path"]: r["diff_status"]
        for r in file_diff(after, before).collect()
    }
    assert d["a.txt"] == "M" and d["b.bin"] == "D" and d["d.txt"] == "A"
    assert d["sub/c.txt"] == "S"


def test_to_storage_placements(spark, tmp_path):
    root = _mk_tree(str(tmp_path / "tree"))
    listing = read_storage(spark, root, type="binary")
    out1 = str(tmp_path / "out_fn")
    written = {r["path"]: r["n_bytes"] for r in to_storage(listing, out1).collect()}
    assert written == {"a.txt": 5, "b.bin": 3, "c.txt": 13}
    assert open(os.path.join(out1, "a.txt")).read() == "alpha"
    # fullpath mirrors the tree
    out2 = str(tmp_path / "out_fp")
    paths = {r["path"] for r in to_storage(listing, out2, placement="fullpath").collect()}
    assert "sub/c.txt" in paths
    assert os.path.exists(os.path.join(out2, "sub", "c.txt"))
    # etag placement: content-addressed names
    out3 = str(tmp_path / "out_et")
    paths3 = sorted(r["path"] for r in to_storage(listing, out3, placement="etag").collect())
    assert all(len(p.split(".")[0]) == 32 for p in paths3)


def test_parse_tabular_reads_listed_files(spark, tmp_path):
    root = str(tmp_path / "csvs")
    os.makedirs(os.path.join(root, "sub"), exist_ok=True)
    with open(os.path.join(root, "x.csv"), "w") as f:
        f.write("id,v\n1,10\n2,20\n")
    with open(os.path.join(root, "sub", "y.csv"), "w") as f:
        f.write("id,v\n3,30\n")
    listing = read_storage(spark, root, type="meta", glob="*.csv")
    df = parse_tabular(spark, listing, format="csv", header="true", inferSchema="true")
    rows = sorted((r["id"], r["v"]) for r in df.collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]
    assert all(r["source_file"] for r in df.collect())


def test_file_struct_nested_select(spark, tmp_path):
    """Nested struct columns select with dotted paths — the reference
    flattens to file__path (signal_schema.py:44); Spark is nested-native."""
    root = _mk_tree(str(tmp_path / "tree"))
    out = (
        read_storage(spark, root, type="meta")
        .select(F.col("file.path").alias("p"), F.col("file.size").alias("s"))
        .orderBy("p")
        .collect()
    )
    assert [r["p"] for r in out] == ["a.txt", "b.bin", "sub/c.txt"]


def test_cached_listing_ttl_and_update(spark, tmp_path):
    """Reference lib/listing.py:26-61: listings persist as lst__ datasets
    with a TTL shared across sessions; update= forces a re-list."""
    from datachain_spark.sources.storage import cached_listing

    src = tmp_path / "bucket"
    src.mkdir()
    (src / "a.txt").write_text("aaa")
    (src / "b.txt").write_text("bb")
    cache = str(tmp_path / "cache")

    first = cached_listing(spark, str(src), cache)
    assert first.count() == 2

    (src / "c.txt").write_text("c")
    # within TTL: the cached listing is served — the new file is INVISIBLE
    assert cached_listing(spark, str(src), cache).count() == 2
    # update=True re-lists
    assert cached_listing(spark, str(src), cache, update=True).count() == 3
    # expired TTL re-lists too
    (src / "d.txt").write_text("d")
    assert cached_listing(spark, str(src), cache, ttl_seconds=0).count() == 4


def test_read_hf_dataset_like_objects(spark):
    """read_hf converts Dataset-like objects without the hub lib: Arrow
    (.data) backing, to_pandas fallback, iterable-of-dicts streams, and
    DatasetDict-of-splits with the reference's `split` column."""
    import pandas as pd
    import pyarrow as pa
    import pytest as _p

    from datachain_spark.sources.hf import read_hf

    class ArrowDS:  # Dataset-like: pyarrow Table behind .data
        features = {"a": "int64"}

        def __init__(self):
            self.data = pa.table({"a": [1, 2, 3], "t": ["x", "y", "z"]})

    df = read_hf(spark, ArrowDS())
    assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]
    assert read_hf(spark, ArrowDS(), limit=2).count() == 2

    class PandasDS:
        features = {}

        def to_pandas(self):
            return pd.DataFrame({"a": [10, 20]})

    assert read_hf(spark, PandasDS()).count() == 2

    class StreamDS:  # IterableDataset-like
        features = {}

        def __iter__(self):
            for i in range(1000):
                yield {"a": i}

    assert read_hf(spark, StreamDS(), limit=5).count() == 5

    # DatasetDict-like -> union of splits + split column
    dd = {"train": ArrowDS(), "test": PandasDS()}
    out = read_hf(spark, dd)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert counts == {"train": 3, "test": 2}

    with _p.raises(ImportError, match="datasets"):
        read_hf(spark, "some/hub-path")


def test_scrub_pii_and_decontaminate(spark):
    from datachain_spark.operators.text import decontaminate, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@example.co.uk today"),
            (2, "server 192.168.0.1 and call +14155552671 now"),
            (3, "clean text stays clean"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["text"] for r in scrub_pii(df).collect()}
    assert got[1] == "mail me at [EMAIL] today"
    assert got[2] == "server [IP] and call [PHONE] now"
    assert got[3] == "clean text stays clean"

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely different sentence about spark engines"),
            (3, "quick brown fox jumps over the lazy dog again and again"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps over the lazy dog run")],
        ["doc_id", "text"],
    )
    clean = decontaminate(corpus, bench, n=5, min_shared=1)
    assert sorted(clean.select("doc_id").toPandas()["doc_id"]) == [2]
    marked = decontaminate(corpus, bench, n=5, min_shared=1, mark_only=True)
    m = {r["doc_id"]: (r["contaminated"], r["n_shared"]) for r in marked.collect()}
    assert m[2] == (False, 0) and m[1][0] and m[3][0] and m[1][1] >= 1


# ---------- listing cache, sharded read_hf, prefetch_files ----------
def test_read_storage_cache_no_rewalk_within_ttl(spark, tmp_path):
    from datachain_spark.sources import storage as st

    src = tmp_path / "bucket"
    src.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "b.txt").write_text("beta")
    cache = str(tmp_path / "cache")

    w0 = st.LISTING_WALKS
    first = st.read_storage(spark, str(src), type="meta", cache_root=cache)
    assert first.count() == 2
    assert st.LISTING_WALKS == w0 + 1  # one real crawl
    # second call within TTL: NO directory walk — and content reads (the
    # binary/text types) drive off the cached paths, also walk-free
    again = st.read_storage(spark, str(src), type="meta", cache_root=cache)
    assert again.count() == 2
    texts = st.read_storage(spark, str(src), type="text", cache_root=cache)
    got = {r["file"]["path"]: r["text"] for r in texts.collect()}
    assert got == {"a.txt": "alpha", "b.txt": "beta"}
    assert st.LISTING_WALKS == w0 + 1  # still just the one crawl

    # a file created after the crawl is INVISIBLE until update/TTL expiry
    (src / "c.txt").write_text("gamma")
    assert st.read_storage(spark, str(src), type="meta", cache_root=cache).count() == 2
    # update=True forces a re-crawl
    assert (
        st.read_storage(spark, str(src), type="meta", cache_root=cache, update=True).count()
        == 3
    )
    assert st.LISTING_WALKS == w0 + 2


def test_read_storage_cache_ttl_expiry_recrawls(spark, tmp_path):
    import json as _json

    from datachain_spark.sources import storage as st

    src = tmp_path / "bucket"
    src.mkdir()
    (src / "a.txt").write_text("x")
    cache = str(tmp_path / "cache")
    st.read_storage(spark, str(src), type="meta", cache_root=cache).count()
    (src / "b.txt").write_text("y")

    # age the cache entry past the TTL (backdate created_at on disk)
    (cdir,) = [d for d in os.listdir(cache) if d.startswith("lst__")]
    meta_path = os.path.join(cache, cdir, "_listing_meta.json")
    with open(meta_path) as fh:
        meta = _json.load(fh)
    meta["created_at"] -= 5 * 3600
    with open(meta_path, "w") as fh:
        _json.dump(meta, fh)

    w0 = st.LISTING_WALKS
    fresh = st.read_storage(spark, str(src), type="meta", cache_root=cache)
    assert fresh.count() == 2  # expired -> re-crawled, sees b.txt
    assert st.LISTING_WALKS == w0 + 1


def test_read_hf_large_split_shards_without_driver_copy(spark):
    import pyarrow as pa

    from datachain_spark.sources.hf import read_hf

    n = 5000
    table = pa.table({"id": list(range(n)), "txt": [f"t{i}" for i in range(n)]})

    class NoPandasTable:
        """Arrow backing that REFUSES a full driver materialization."""

        num_rows = n
        schema = table.schema

        def to_batches(self):
            return table.to_batches(max_chunksize=500)

        def to_pandas(self):
            raise AssertionError("full-split to_pandas() on a large dataset")

    class FakeDataset:
        features = {"id": None, "txt": None}
        data = NoPandasTable()

    import datachain_spark.sources.hf as hf_mod

    old = hf_mod.SHARD_THRESHOLD_ROWS
    hf_mod.SHARD_THRESHOLD_ROWS = 1000
    try:
        df = read_hf(spark, FakeDataset())
        assert df.count() == n
        assert df.rdd.getNumPartitions() > 1  # really distributed shards
        got = {r["id"]: r["txt"] for r in df.filter("id < 5 or id >= 4995").collect()}
        assert got[0] == "t0" and got[4999] == "t4999"
    finally:
        hf_mod.SHARD_THRESHOLD_ROWS = old


def test_shard_arrow_to_parquet_rotates_files(tmp_path):
    import pyarrow as pa

    from datachain_spark.sources.hf import _shard_arrow_to_parquet

    t = pa.table({"x": list(range(3000))})
    n_shards = _shard_arrow_to_parquet(t, str(tmp_path / "sh"), rows_per_shard=1000)
    assert n_shards == 3
    assert len(list((tmp_path / "sh").glob("*.parquet"))) == 3


def test_prefetch_files_concurrent_fetch_and_missing_null(spark, tmp_path):
    from datachain_spark.sources.storage import prefetch_files, read_storage

    src = tmp_path / "bucket"
    src.mkdir()
    for i in range(6):
        (src / f"f{i}.bin").write_bytes(bytes([i]) * (i + 1))
    listing = read_storage(spark, str(src), type="meta")
    fetched = prefetch_files(listing, workers=4)
    got = {r["file"]["path"]: bytes(r["data"]) for r in fetched.collect()}
    assert got == {f"f{i}.bin": bytes([i]) * (i + 1) for i in range(6)}

    # stale listing: a file deleted after the crawl -> NULL data, no crash
    snap = listing.localCheckpoint()
    (src / "f3.bin").unlink()
    rows = {r["file"]["path"]: r["data"] for r in prefetch_files(snap).collect()}
    assert rows["f3.bin"] is None
    assert bytes(rows["f5.bin"]) == bytes([5]) * 6
