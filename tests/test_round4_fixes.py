"""Round-4 fixes (ADVICE.md): unicode whitespace in the codegen
normalizer, lower-case JDBC staging names. The checkpoint duplicate-key,
output-overwrite and resume-lock tests live in test_checkpoint_resume.py."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


# ---------- codegen normalizer: unicode whitespace parity ----------
def test_normalize_expr_unicode_whitespace_matches_python(spark):
    from datachain_spark.cdc.normalize import normalize_text, normalize_text_expr

    # NBSP, line/para separators, ideographic space, tabs — all already
    # NFC-composed, so the expr (no NFC) must match normalize_text exactly
    samples = [
        "a b",
        " x  y ",
        "　lead and trail　",
        " mixed\t  runs \n here ",
        "plain ascii  only",
        None,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["o"] for r in df.select(normalize_text_expr(F.col("t")).alias("o")).collect()]
    assert got == [normalize_text(s) for s in samples]


def test_normalize_expr_space_run_branches_match_python(spark):
    """Branch boundaries of the graded ASCII collapse paths: runs of
    exactly 2 spaces (literal replace branch), runs of 3+ (the '  +'
    regex branch), control whitespace mixed in (the \\s+ branch), and the
    trim-only path — every one must equal normalize_text byte-for-byte."""
    from datachain_spark.cdc.normalize import normalize_text, normalize_text_expr

    samples = [
        "",
        " ",
        "  ",
        "   ",
        "    ",
        "a  b",                 # single 2-run -> replace branch
        "a  b  c",              # multiple 2-runs, non-overlap replace
        "a   b",                # 3-run -> '  +' branch
        "a    b  c",            # 4-run + 2-run in one row
        "  lead and trail   ",  # runs at the edges interact with trim
        "tok tok  (rev 3)",     # the feed's update-row shape
        "a  b\tc",              # double space AND control ws -> \s+ branch
        "café  x",         # non-ASCII with 2-run -> unicode branch
        None,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["o"] for r in df.select(normalize_text_expr(F.col("t")).alias("o")).collect()]
    assert got == [normalize_text(s) for s in samples]


# ---------- JDBC: lower-case table names through quoted staging ----------
def test_jdbc_upsert_lowercase_table(spark, tmp_path):
    from datachain_spark.sources.database import DERBY_DRIVER, read_database, to_database

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    to_database(base, "events_lc", url, mode="overwrite", driver=DERBY_DRIVER)
    delta = spark.createDataFrame([(2, "B!"), (3, "c")], "id long, name string")
    # pre-fix: the staging table's lower-case prefix was case-folded by the
    # unquoted JDBC write and the quoted MERGE/DROP failed to resolve
    to_database(delta, "events_lc", url, on_conflict=["id"], driver=DERBY_DRIVER)
    got = {
        r["id"]: r["name"]
        for r in read_database(
            spark, 'SELECT * FROM "events_lc"', url, driver=DERBY_DRIVER
        ).collect()
    }
    assert got == {1: "a", 2: "B!", 3: "c"}


# ---------- read_storage with the persistent listing cache ----------
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


# ---------- sharded read_hf ----------
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


# ---------- real AVI codec ----------
def test_avi_codec_roundtrip_pure():
    from datachain_spark.operators.multimodal import (
        demux_avi_frames,
        encode_avi,
        parse_avi,
    )

    payload = encode_avi(16, 12, n_frames=5, fps=10, seed=7)
    d = parse_avi(payload)
    assert (d["width"], d["height"], d["n_frames"], d["fps"]) == (16, 12, 5, 10)
    assert d["duration_ms"] == 500
    frames = demux_avi_frames(payload)
    stride = 16 * 3  # 48 bytes, already word-aligned
    assert len(frames) == 5 and all(len(f) == stride * 12 for f in frames)
    assert frames[0] != frames[1]  # per-frame content differs
    assert 0.0 < d["mean_pixel"] < 255.0 and d["phash"] > 0
    # determinism + seed sensitivity
    assert encode_avi(16, 12, n_frames=5, fps=10, seed=7) == payload
    assert encode_avi(16, 12, n_frames=5, fps=10, seed=8) != payload


def test_decode_media_video_real_avi(spark):
    from datachain_spark.operators.multimodal import decode_media, gen_fake_media

    media = gen_fake_media(spark, n=30)
    out = decode_media(media)
    vids = out.filter("kind = 'video'").collect()
    assert vids
    for r in vids:
        assert r["dec_width"] == r["width"] and r["dec_height"] == r["height"]
        assert r["dec_duration_ms"] == r["duration_ms"]  # header-exact
        assert r["phash"] is not None and r["mean_pixel"] is not None


def test_frame_sample_real_avi_demux(spark):
    from datachain_spark.operators.multimodal import (
        encode_avi,
        frame_sample,
        gen_fake_media,
    )

    media = gen_fake_media(spark, n=30).filter("kind = 'video'")
    frames = frame_sample(media, every_ms=100)
    got = frames.filter("media_id = 2").orderBy("frame_ts_ms").collect()
    # media_id=2: duration=(2%20+1)*100=300ms, width=7, height=6 -> 3 frames
    assert len(got) == 3
    # the sampled payloads are the REAL demuxed DIB frames
    from datachain_spark.operators.multimodal import demux_avi_frames

    src = encode_avi(7, 6, n_frames=3, fps=10, seed=2)
    expect = demux_avi_frames(src)
    assert [bytes(r["frame_payload"]) for r in got] == expect


# ---------- prefetch_files (reference UDF prefetcher analog) ----------
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
