"""delta_update incremental recompute (reference tests/func/test_delta.py)
and multimodal binary-column plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from datachain_spark.delta import delta_update
from datachain_spark.lake.table import LakeTable
from datachain_spark.operators.multimodal import decode_features, frame_sample, gen_fake_media


def _save_version(spark, table: LakeTable, rows, schema):
    table.overwrite(spark.createDataFrame(rows, schema), "save")


def test_delta_update_incremental(spark, tmp_path):
    src = LakeTable.create(str(tmp_path / "src"), None or spark.createDataFrame([], "id int, v double").schema, key_cols=["id"], num_buckets=1)
    res = LakeTable.create(str(tmp_path / "res"), spark.createDataFrame([], "id int, v double, out double").schema, key_cols=["id"], num_buckets=1)

    calls = []

    def transform(df):
        calls.append(df)
        return df.withColumn("out", F.col("v") * 10)

    _save_version(spark, src, [(1, 1.0), (2, 2.0), (3, 3.0)], "id int, v double")
    v = delta_update(spark, src, res, transform, on=["id"])
    assert v is not None
    got = sorted(tuple(r) for r in res.read(spark).collect())
    assert got == [(1, 1.0, 10.0), (2, 2.0, 20.0), (3, 3.0, 30.0)]

    # second run with no source change: short-circuit
    assert delta_update(spark, src, res, transform, on=["id"]) is None

    # modify 2, add 4, delete 3 -> only the diff is recomputed
    _save_version(spark, src, [(1, 1.0), (2, 9.0), (4, 4.0)], "id int, v double")
    before = len(calls)
    v2 = delta_update(spark, src, res, transform, on=["id"])
    assert v2 is not None and len(calls) == before + 1
    recomputed = calls[-1]
    assert sorted(r["id"] for r in recomputed.select("id").collect()) == [2, 4]
    got = sorted(tuple(r) for r in res.read(spark).collect())
    assert got == [(1, 1.0, 10.0), (2, 9.0, 90.0), (4, 4.0, 40.0)]
    # dependency records: the result version records which source version
    # it was derived from (reference delta.py:188-237)
    deps = res.snapshot().props["dependencies"]
    assert deps == [{"source": src.root, "version": src.current_version()}]


def test_delta_update_multi_source_dependencies(spark, tmp_path):
    """Two delta pipelines into one result table keep independent
    dependency entries (reference resolves per-source versions through
    recorded dependencies — a bare source_version prop cannot)."""
    src_a = LakeTable.create(
        str(tmp_path / "sa"), spark.createDataFrame([], "id int, v double").schema,
        key_cols=["id"], num_buckets=1,
    )
    src_b = LakeTable.create(
        str(tmp_path / "sb"), spark.createDataFrame([], "id int, v double").schema,
        key_cols=["id"], num_buckets=1,
    )
    res = LakeTable.create(
        str(tmp_path / "rm"), spark.createDataFrame([], "id int, v double, out double").schema,
        key_cols=["id"], num_buckets=1,
    )

    def transform(df):
        return df.withColumn("out", F.col("v") * 10)

    _save_version(spark, src_a, [(1, 1.0)], "id int, v double")
    _save_version(spark, src_b, [(100, 5.0)], "id int, v double")
    delta_update(spark, src_a, res, transform, on=["id"])
    delta_update(spark, src_b, res, transform, on=["id"])
    deps = {d["source"]: d["version"] for d in res.snapshot().props["dependencies"]}
    assert deps == {src_a.root: src_a.current_version(), src_b.root: src_b.current_version()}
    # updating only src_a leaves src_b's recorded dependency intact and
    # does not reprocess src_b rows
    _save_version(spark, src_a, [(1, 2.0)], "id int, v double")
    assert delta_update(spark, src_b, res, transform, on=["id"]) is None  # b unchanged
    delta_update(spark, src_a, res, transform, on=["id"])
    got = sorted(tuple(r) for r in res.read(spark).collect())
    assert got == [(1, 2.0, 20.0), (100, 5.0, 50.0)]


def test_delta_update_buckets_a_keyed_result(spark, tmp_path):
    """A keyed result of several buckets gets each row in its key's bucket,
    so point reads find every key, and each run replaces every bucket."""
    schema = "id int, v double"
    src = LakeTable.create(
        str(tmp_path / "sk"), spark.createDataFrame([], schema).schema, key_cols=["id"], num_buckets=1
    )
    res = LakeTable.create(
        str(tmp_path / "rk"), spark.createDataFrame([], "id int, v double, out double").schema,
        key_cols=["id"], num_buckets=4,
    )

    def transform(df):
        return df.withColumn("out", F.col("v") * 10)

    ids = list(range(20))
    _save_version(spark, src, [(i, float(i)) for i in ids], schema)
    delta_update(spark, src, res, transform, on=["id"])
    first = res.snapshot().buckets
    assert len([b for b, fl in first.items() if fl]) > 1
    assert sorted(r["id"] for r in res.read_keys(spark, ids).collect()) == ids

    _save_version(spark, src, [(i, float(i) + 0.5) for i in ids], schema)
    delta_update(spark, src, res, transform, on=["id"])
    second = res.snapshot().buckets
    assert all(set(second.get(b, [])).isdisjoint(fl) for b, fl in first.items())
    got = sorted((r["id"], r["out"]) for r in res.read_keys(spark, ids).collect())
    assert got == [(i, (i + 0.5) * 10) for i in ids]


def test_delta_retry_rows(spark, tmp_path):
    src = LakeTable.create(str(tmp_path / "s2"), spark.createDataFrame([], "id int, v double").schema, key_cols=["id"], num_buckets=1)
    res = LakeTable.create(str(tmp_path / "r2"), spark.createDataFrame([], "id int, v double, err string").schema, key_cols=["id"], num_buckets=1)

    def transform(df):
        # succeeds for everything on retry
        return df.withColumn("err", F.lit(None).cast("string"))

    _save_version(spark, src, [(1, 1.0), (2, 2.0)], "id int, v double")
    delta_update(spark, src, res, transform, on=["id"])
    # poison row 1 with an error marker in the result
    poisoned = res.read(spark).withColumn(
        "err", F.when(F.col("id") == 1, "boom").otherwise(F.col("err"))
    )
    _save_version(spark, res, [tuple(r) for r in poisoned.collect()], poisoned.schema)
    # unchanged source + retry predicate -> row 1 reprocessed
    _save_version(spark, src, [(1, 1.0), (2, 2.0), (3, 3.0)], "id int, v double")
    delta_update(
        spark, src, res, transform, on=["id"], retry_predicate=F.col("err").isNotNull()
    )
    rows = {r["id"]: r["err"] for r in res.read(spark).collect()}
    assert rows == {1: None, 2: None, 3: None}


def test_multimodal_decode_and_frames(spark):
    media = gen_fake_media(spark, 30)
    feats = decode_features(media)
    rows = feats.filter("kind = 'image'").select("media_id", "n_bytes", "phash").collect()
    assert rows and all(r["n_bytes"] > 0 for r in rows)
    frames = frame_sample(media.filter("kind = 'video'"), every_ms=1000)
    f = frames.groupBy("media_id").count().collect()
    assert f and all(r["count"] >= 1 for r in f)
    # schema plumbing: binary payloads survive the Arrow round trip
    assert dict(frames.dtypes)["frame_payload"] == "binary"


def test_bmp_codec_roundtrip_pure():
    # pure-Python roundtrip incl. a width needing row padding (w*3 % 4 != 0)
    from datachain_spark.operators.multimodal import encode_bmp, parse_bmp

    for w, h in [(3, 2), (8, 8), (5, 7)]:
        payload = encode_bmp(w, h, seed=42)
        assert payload[:2] == b"BM"
        d = parse_bmp(payload)
        assert (d["width"], d["height"]) == (w, h)
        assert 0.0 <= d["mean_pixel"] <= 255.0
        assert d["phash"] >= 0
    # identical images -> identical aHash; different seeds -> (almost surely) different
    assert parse_bmp(encode_bmp(8, 8, 1)) == parse_bmp(encode_bmp(8, 8, 1))
    import pytest as _p

    with _p.raises(ValueError, match="not a BMP"):
        parse_bmp(b"nope")


def test_wav_codec_roundtrip_pure():
    from datachain_spark.operators.multimodal import encode_wav, parse_wav

    payload = encode_wav(300, sample_rate=8000, seed=7)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    d = parse_wav(payload)
    assert d["duration_ms"] == 300
    assert d["channels"] == 1 and d["sample_rate"] == 8000
    assert d["mean_amp"] > 0


def test_decode_media_real_bytes(spark):
    """The round-3 un-stubbing: decode_media parses REAL encoded bytes —
    decoded dims/durations must equal the metadata the encoder was given
    (no NotImplementedError path on image/audio)."""
    from datachain_spark.operators.multimodal import decode_media

    media = gen_fake_media(spark, 30)
    out = decode_media(media).collect()
    imgs = [r for r in out if r["kind"] == "image"]
    auds = [r for r in out if r["kind"] == "audio"]
    vids = [r for r in out if r["kind"] == "video"]
    assert imgs and auds and vids
    for r in imgs:
        assert r["dec_width"] == r["width"] and r["dec_height"] == r["height"]
        assert r["phash"] is not None and 0.0 <= r["mean_pixel"] <= 255.0
    for r in auds:
        assert r["dec_duration_ms"] == r["duration_ms"]
        assert r["channels"] == 1 and r["sample_rate"] == 8000 and r["mean_amp"] > 0
    # video: real RIFF AVI demux (round 4) -> header-exact dims/duration
    for r in vids:
        assert r["n_bytes"] > 0
        assert r["dec_width"] == r["width"] and r["dec_height"] == r["height"]
        assert r["dec_duration_ms"] == r["duration_ms"]
        assert r["phash"] is not None
