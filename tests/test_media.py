"""Media scalar API + distributed fragment extraction tests (reference
tests cover lib/audio, lib/image, lib/video, lib/clip; here everything
runs over the real in-container WAV/BMP/AVI codecs)."""

import math
import os

import numpy as np
import pytest

from datachain_spark.operators.media import (
    MediaError,
    audio_info,
    audio_to_bytes,
    audio_to_np,
    bmp_to_np,
    clip_similarity_scores,
    convert_image,
    convert_images,
    convert_text,
    extract_audio_fragments,
    extract_video_fragments,
    image_info,
    np_to_bmp,
    save_audio,
    save_video_fragment,
    save_video_frame,
    validate_frame_range,
    video_frame_bytes,
    video_frame_np,
    video_info,
)
from datachain_spark.operators.multimodal import (
    encode_avi,
    encode_bmp,
    encode_wav,
    parse_bmp,
)

WAV = encode_wav(2000, sample_rate=8000, seed=5)  # 2 s mono PCM_16
BMP = encode_bmp(20, 12, seed=3)
AVI = encode_avi(16, 12, n_frames=20, fps=10, seed=7)  # 2 s video


# ---------------- audio ----------------


def test_audio_info():
    info = audio_info(WAV)
    assert info == {
        "sample_rate": 8000,
        "channels": 1,
        "duration": 2.0,
        "samples": 16000,
        "format": "wav",
        "codec": "PCM_16",
        "bit_rate": 128000,
    }
    with pytest.raises(MediaError):
        audio_info(b"not a wav")


def test_audio_to_np_fragment_and_validation():
    y, sr = audio_to_np(WAV)
    assert sr == 8000 and y.shape == (16000,) and y.dtype == np.float32
    assert float(np.abs(y).max()) <= 1.0
    frag, _ = audio_to_np(WAV, start=0.5, duration=0.25)
    assert frag.shape == (2000,)
    assert np.array_equal(frag, y[4000:6000])
    with pytest.raises(ValueError, match="non-negative"):
        audio_to_np(WAV, start=-1)
    with pytest.raises(ValueError, match="positive"):
        audio_to_np(WAV, duration=0)


def test_audio_to_bytes_roundtrip_exact():
    # full-file re-encode is sample-identical (int16 <-> float32 is exact)
    out = audio_to_bytes(WAV)
    y0, _ = audio_to_np(WAV)
    y1, _ = audio_to_np(out)
    assert np.array_equal(y0, y1)
    # fragment has exactly duration*sr samples
    frag = audio_to_bytes(WAV, start=1.0, duration=0.5)
    assert audio_info(frag)["samples"] == 4000
    with pytest.raises(NotImplementedError):
        audio_to_bytes(WAV, format="mp3")


def test_save_audio_naming(tmp_path):
    out = str(tmp_path)
    full = save_audio(WAV, "clip", out)
    assert full["path"].endswith("/clip.wav") and os.path.exists(full["path"])
    frag = save_audio(WAV, "clip", out, start=0.25, end=1.5)
    assert frag["path"].endswith("/clip_000250_001500.wav")
    assert audio_info(open(frag["path"], "rb").read())["samples"] == 10000
    tail = save_audio(WAV, "clip", out, start=1.5)
    assert tail["path"].endswith("/clip_001500_end.wav")
    with pytest.raises(ValueError, match="invalid time range"):
        save_audio(WAV, "clip", out, start=2.0, end=1.0)
    with pytest.raises(ValueError, match="non-negative"):
        save_audio(WAV, "clip", out, start=-0.5)


# ---------------- image ----------------


def test_image_info_and_np_roundtrip():
    assert image_info(BMP) == {"width": 20, "height": 12, "format": "bmp"}
    img = bmp_to_np(BMP)
    assert img.shape == (12, 20, 3) and img.dtype == np.uint8
    # np_to_bmp -> bmp_to_np is lossless
    assert np.array_equal(bmp_to_np(np_to_bmp(img)), img)
    # and parse_bmp agrees on the mean pixel
    assert math.isclose(float(img.mean()), parse_bmp(BMP)["mean_pixel"], abs_tol=1e-9)
    with pytest.raises(MediaError):
        image_info(b"nope")


def test_convert_image_modes_and_resize():
    gray = convert_image(BMP, mode="L")
    assert gray.shape == (12, 20)
    img = bmp_to_np(BMP).astype(np.uint32)
    expect = (img[:, :, 0] * 299 + img[:, :, 1] * 587 + img[:, :, 2] * 114) // 1000
    assert np.array_equal(gray, expect.astype(np.uint8))
    small = convert_image(BMP, size=(10, 6))
    assert small.shape == (6, 10, 3)
    # transform + encoder chain like the reference (unsqueeze then encode)
    got = convert_image(
        BMP,
        size=(4, 4),
        transform=lambda a: a.astype(np.float32) / 255.0,
        encoder=lambda batch: batch.mean(),
    )
    assert 0.0 <= float(got) <= 1.0
    with pytest.raises(MediaError):
        convert_image(BMP, mode="CMYK")


def test_convert_images_stack():
    out = convert_images([BMP, encode_bmp(20, 12, seed=9)], size=(8, 8))
    assert isinstance(out, np.ndarray) and out.shape == (2, 8, 8, 3)


# ---------------- video ----------------


def test_video_info():
    info = video_info(AVI)
    assert info["width"] == 16 and info["height"] == 12
    assert info["fps"] == 10.0 and info["frames"] == 20
    assert math.isclose(info["duration"], 2.0)
    assert info["format"] == "avi"
    with pytest.raises(MediaError):
        video_info(b"RIFFxxxx")


def test_video_frame_np_and_bytes():
    f0 = video_frame_np(AVI, 0)
    f3 = video_frame_np(AVI, 3)
    assert f0.shape == (12, 16, 3) and not np.array_equal(f0, f3)
    # frame re-encoded as BMP decodes back identically
    assert np.array_equal(bmp_to_np(video_frame_bytes(AVI, 3)), f3)
    with pytest.raises(ValueError):
        video_frame_np(AVI, -1)
    with pytest.raises(IndexError):
        video_frame_np(AVI, 99)


def test_validate_frame_range():
    assert validate_frame_range(AVI) == (0, 20, 1)
    assert validate_frame_range(AVI, 2, 10, 3) == (2, 10, 3)
    with pytest.raises(ValueError):
        validate_frame_range(AVI, -1)
    with pytest.raises(ValueError):
        validate_frame_range(AVI, 5, 2)
    with pytest.raises(ValueError):
        validate_frame_range(AVI, step=0)


def test_save_video_frame_and_fragment(tmp_path):
    out = str(tmp_path)
    f = save_video_frame(AVI, "vid", 7, out)
    assert f["path"].endswith("/vid_0007.bmp")
    assert np.array_equal(bmp_to_np(open(f["path"], "rb").read()), video_frame_np(AVI, 7))
    frag = save_video_fragment(AVI, "vid", 0.5, 1.2, out)
    assert frag["path"].endswith("/vid_000500_001200.avi") and frag["frames"] == 7
    sub = open(frag["path"], "rb").read()
    assert video_info(sub)["frames"] == 7
    # fragment frame 0 == source frame 5 (0.5 s * 10 fps)
    assert np.array_equal(video_frame_np(sub, 0), video_frame_np(AVI, 5))
    with pytest.raises(ValueError, match="invalid time range"):
        save_video_fragment(AVI, "vid", 1.5, 0.5, out)


# ---------------- clip similarity ----------------


class _FakeClip:
    """Deterministic CLIP stand-in: encode_image mean-pools pixels into a
    2-d feature; encode_text maps token ids into the same 2-d space."""

    def encode_image(self, batch):
        batch = np.asarray(batch, dtype=np.float64)
        flat = batch.reshape(batch.shape[0], -1)
        return np.stack([flat.mean(axis=1), flat.std(axis=1) + 1.0], axis=1)

    def encode_text(self, tokens):
        tokens = np.asarray(tokens, dtype=np.float64)
        return np.stack([tokens.sum(axis=1), tokens.max(axis=1)], axis=1)


def _tok(texts):
    return [[len(t), sum(map(ord, t)) % 97] for t in texts]


def test_clip_similarity_scores_shapes_and_softmax():
    model = _FakeClip()
    pre = lambda a: a.astype(np.float64)  # noqa: E731
    imgs = [BMP, encode_bmp(20, 12, seed=11)]
    # image -> text: 2 images x 3 texts
    scores = clip_similarity_scores(imgs, ["a", "bb", "ccc"], model, pre, _tok)
    assert len(scores) == 2 and len(scores[0]) == 3
    # normalized features => logits bounded by 100
    assert all(abs(v) <= 100.0 + 1e-9 for row in scores for v in row)
    # text -> image transpose
    t2i = clip_similarity_scores(
        imgs, ["a", "bb", "ccc"], model, pre, _tok, image_to_text=False
    )
    assert len(t2i) == 3 and math.isclose(t2i[0][1], scores[1][0])
    # softmax rows sum to 1
    probs = clip_similarity_scores(imgs, ["a", "bb"], model, pre, _tok, prob=True)
    assert all(math.isclose(sum(row), 1.0, rel_tol=1e-9) for row in probs)
    # single-side modes
    ii = clip_similarity_scores(imgs, None, model, pre, _tok)
    assert math.isclose(ii[0][0], 100.0) and math.isclose(ii[1][1], 100.0)
    tt = clip_similarity_scores(None, ["x", "y"], model, pre, _tok)
    assert len(tt) == 2
    with pytest.raises(ValueError, match="at least one"):
        clip_similarity_scores(None, None, model, pre, _tok)
    with pytest.raises(ValueError, match="CLIP model"):
        clip_similarity_scores(imgs, "a", object(), pre, _tok)


def test_convert_text_paths():
    assert convert_text("hi") == "hi"
    toks = convert_text(["hi", "yo"], _tok)
    assert toks.shape == (2, 2)
    enc = convert_text("hi", _tok, encoder=lambda t: t * 2)
    assert np.array_equal(enc, np.asarray(_tok(["hi"])) * 2)


# ---------------- distributed fragment extraction ----------------


def test_extract_audio_fragments_distributed(spark):
    rows = [(i, encode_wav(1000 + 200 * i, seed=i), 0.1, 0.1 + 0.05 * (i + 1)) for i in range(6)]
    df = spark.createDataFrame(rows, "id int, payload binary, start double, end double")
    got = {
        r["id"]: r
        for r in extract_audio_fragments(df).collect()
    }
    assert len(got) == 6
    for i in range(6):
        # same truncation the engine (and the reference: int(duration*sr),
        # lib/audio.py:121) applies — the float subtraction is part of it
        duration = rows[i][3] - rows[i][2]
        assert got[i]["frag_samples"] == int(duration * 8000)
        assert got[i]["frag_sr"] == 8000
        # fragment bytes decode standalone and match a scalar-side cut
        scalar = audio_to_bytes(rows[i][1], "wav", 0.1, duration)
        assert bytes(got[i]["fragment"]) == scalar


def test_extract_video_fragments_distributed(spark):
    rows = [(i, encode_avi(8, 6, n_frames=12, fps=10, seed=i), 0.2, 0.2 + 0.1 * (i + 1)) for i in range(4)]
    df = spark.createDataFrame(rows, "id int, payload binary, start double, end double")
    got = {r["id"]: r for r in extract_video_fragments(df).collect()}
    for i in range(4):
        assert got[i]["frag_frames"] == i + 1
        assert video_info(bytes(got[i]["fragment"]))["frames"] == i + 1


# ---------- real AVI codec, decode and frame demux ----------
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
