"""Multimodal plumbing tests: schema, batching, determinism of the stubbed
decode path, and that the real-codec hook raises cleanly."""

import numpy as np
import pytest

from keystone_spark.operators.multimodal import (
    decode_images,
    frame_sample,
    grayscale,
    image_features,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [(i, bytes([i]) * 64) for i in range(6)]
    return spark.createDataFrame(rows, "media_id long, content binary")


def test_decode_schema_and_determinism(media_df):
    out = decode_images(media_df, height=4, width=4, channels=3)
    rows = {r.media_id: r.image for r in out.collect()}
    assert rows[0]["height"] == 4 and rows[0]["n_channels"] == 3
    assert len(rows[0]["data"]) == 4 * 4 * 3
    # content-hash seeding: same payload -> same pixels, across runs
    again = {r.media_id: r.image for r in
             decode_images(media_df, height=4, width=4, channels=3).collect()}
    assert rows[2]["data"] == again[2]["data"]
    assert rows[0]["data"] != rows[1]["data"]


def test_real_decode_unknown_payloads(media_df):
    # synthetic payloads are not PNG: null by default, ValueError surfaced
    # with on_error='raise' (real-PNG coverage in tests/test_codecs.py)
    assert all(
        r.image is None for r in decode_images(media_df, decode="real").collect()
    )
    with pytest.raises(Exception, match="ValueError|not a PNG"):
        decode_images(media_df, decode="real", on_error="raise").collect()


def test_image_features_shape(media_df):
    imgs = decode_images(media_df, height=4, width=4, channels=3)
    feats = image_features(imgs)
    r = feats.first()
    assert len(r.img_features) == 6  # mean+std per channel
    arr = np.asarray(r.image["data"], dtype=np.float64).reshape(4, 4, 3)
    np.testing.assert_allclose(r.img_features[:3], arr.mean(axis=(0, 1)), rtol=1e-6)


def test_grayscale(media_df):
    imgs = decode_images(media_df, height=4, width=4, channels=3)
    g = grayscale(imgs).first().gray
    assert g["n_channels"] == 1
    assert len(g["data"]) == 16


def test_frame_sample_explodes(media_df):
    frames = frame_sample(media_df, n_frames=3)
    assert frames.count() == 6 * 3
    r = frames.where("media_id = 0 AND frame_idx = 1").first()
    assert r.frames["height"] == 8


def test_audio_decode_and_features(spark):
    from keystone_spark.operators.multimodal import audio_features, decode_audio

    df = spark.createDataFrame(
        [(0, bytearray(b"clip-a")), (1, bytearray(b"clip-b"))],
        "media_id int, content binary",
    )
    dec = decode_audio(df, n_samples=256)
    row = dec.orderBy("media_id").first()
    assert row.audio.sample_rate == 16000 and len(row.audio.pcm) == 256
    # deterministic: same payload -> same pcm
    again = decode_audio(df, n_samples=256).orderBy("media_id").first()
    assert row.audio.pcm == again.audio.pcm

    feats = audio_features(dec).orderBy("media_id").collect()
    for r in feats:
        rms, zcr, centroid = r.audio_features
        assert 0.4 < rms < 0.7          # uniform[-1,1] has rms ~0.577
        assert 0.2 < zcr < 0.8
        assert 0 < centroid < 8000      # below nyquist

    # real decode: these payloads aren't WAV -> null by default,
    # ValueError surfaced with on_error='raise' (full WAV coverage in
    # tests/test_codecs.py)
    assert all(
        r.audio is None for r in decode_audio(df, decode="real").collect()
    )
    import pytest as _pytest
    with _pytest.raises(Exception, match="Error|not.*audio|unknown"):
        decode_audio(df, decode="real", on_error="raise").collect()


def test_null_payload_propagates_as_null(spark):
    """A null media payload yields null image/features, never a crash —
    real 100 TB corpora have missing blobs."""
    from keystone_spark.operators.multimodal import (
        decode_images,
        grayscale,
        image_features,
    )

    df = spark.createDataFrame([(0, b"abc"), (1, None)], "doc_id long, content binary")
    imgs = decode_images(df, height=4, width=4, channels=3)
    rows = {r.doc_id: r.image for r in imgs.collect()}
    assert rows[0] is not None and rows[1] is None
    feats = {r.doc_id: r.img_features for r in image_features(imgs).collect()}
    assert feats[1] is None and len(feats[0]) == 6
    gray = {r.doc_id: r.gray for r in grayscale(imgs).collect()}
    assert gray[1] is None and gray[0].n_channels == 1


def test_frame_sample_real_mjpeg_avi(spark):
    """VERDICT r3 #6: frame_sample(decode='real') decodes MJPEG-in-AVI —
    N evenly-sampled frames come back with their ORIGINAL stream indices
    and pixel content matching the encoded frames."""
    import numpy as np

    from keystone_spark.functions.avi import encode_avi_mjpeg
    from keystone_spark.functions.codecs import encode_jpeg

    # 10 frames, each a flat image whose level encodes its index
    jpegs = [
        encode_jpeg(np.full((16, 24, 3), i / 10.0), quality=95)
        for i in range(10)
    ]
    avi = encode_avi_mjpeg(jpegs, 24, 16, fps=5)
    df = spark.createDataFrame(
        [(1, bytearray(avi))], "id long, content binary"
    )
    got = frame_sample(df, n_frames=4, decode="real").collect()
    assert [r.frame_idx for r in got] == [0, 3, 6, 9]  # even timeline sample
    for r in got:
        img = r.frames
        assert (img.height, img.width, img.n_channels) == (16, 24, 3)
        level = float(np.mean(img.data))
        assert abs(level - r.frame_idx / 10.0) < 0.02

    # asking for more frames than exist returns every frame once
    all_got = frame_sample(df, n_frames=99, decode="real").collect()
    assert [r.frame_idx for r in all_got] == list(range(10))


def test_frame_sample_real_non_avi_keeps_ffmpeg_hook(spark):
    """Non-AVI (or non-MJPEG) payloads still raise the honest
    NotImplementedError — interframe codecs need ffmpeg."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00\x20ftypisom not a riff"))],
        "id long, content binary",
    )
    with _pytest.raises(Exception, match="ffmpeg"):
        frame_sample(df, decode="real").collect()


def test_phash64_invariance_and_discrimination(spark):
    """Perceptual hash: a lightly-perturbed copy stays within a few bits
    (robust to noise/rescale), unrelated images land far apart, and the
    generic banded candidate join recovers exactly the planted pair."""
    import numpy as np

    from keystone_spark.operators.dedup import hash64_candidates
    from keystone_spark.operators.multimodal import phash64

    rng = np.random.default_rng(7)

    def img_row(i, arr):
        h, w = arr.shape
        return (i, {"height": h, "width": w, "n_channels": 1,
                    "data": arr.astype("float32").ravel().tolist()})

    base = rng.random((24, 24)) * 255
    noisy = base + rng.normal(0, 2.0, base.shape)          # near-dup
    bigger = np.kron(base, np.ones((2, 2)))                # rescaled copy
    other = rng.random((24, 24)) * 255                     # unrelated
    rows = [img_row(0, base), img_row(1, noisy), img_row(2, bigger),
            img_row(3, other)]
    df = spark.createDataFrame(
        rows, "vec_id long, image struct<height:int,width:int,"
              "n_channels:int,data:array<float>>"
    )
    hashed = phash64(df, "image")
    hs = {r.vec_id: r.phash for r in hashed.collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(hs[0], hs[1]) <= 6
    assert ham(hs[0], hs[2]) <= 6      # resize-invariant
    assert ham(hs[0], hs[3]) >= 16     # unrelated stays far
    cands = hash64_candidates(hashed, "vec_id", "phash", n_bands=8,
                              max_hamming=7)
    got = {(r.i, r.j) for r in cands.collect()}
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert all(3 not in pair for pair in got)


def test_phash64_null_image_is_null_hash(spark):
    from keystone_spark.operators.multimodal import phash64

    df = spark.createDataFrame(
        [(0, None)],
        "vec_id long, image struct<height:int,width:int,"
        "n_channels:int,data:array<float>>",
    )
    assert phash64(df, "image").first().phash is None


def test_mfcc_features_pure_tone_and_shape(spark):
    """MFCC sanity: output is 2*n_mfcc wide; a pure tone yields identical
    coefficients across identical clips (deterministic) and different
    tones produce different cepstra; matches a direct numpy replay."""
    import numpy as np

    from keystone_spark.operators.multimodal import (
        _dct_matrix,
        _mel_filterbank,
        mfcc_features,
    )

    sr, n = 16000, 4096
    t = np.arange(n) / sr

    def clip(i, freq):
        pcm = np.sin(2 * np.pi * freq * t).astype("float32")
        return (i, {"sample_rate": sr, "n_samples": n,
                    "pcm": pcm.tolist()})

    df = spark.createDataFrame(
        [clip(0, 440.0), clip(1, 440.0), clip(2, 3000.0), (3, None)],
        "clip_id long, audio struct<sample_rate:int,n_samples:int,"
        "pcm:array<float>>",
    )
    out = {r.clip_id: r.mfcc for r in mfcc_features(df).collect()}
    assert out[3] is None
    assert len(out[0]) == 26  # 13 means + 13 stds
    assert out[0] == out[1]   # deterministic
    assert max(abs(a - b) for a, b in zip(out[0], out[2])) > 0.5

    # direct numpy replay of clip 0 (same framing constants)
    n_fft, hop, n_mels, n_mfcc = 512, 256, 26, 13
    pcm = np.asarray(
        np.sin(2 * np.pi * 440.0 * t).astype("float32"), dtype=np.float64
    )
    win = np.hanning(n_fft)
    n_frames = 1 + (len(pcm) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    power = np.abs(np.fft.rfft(pcm[idx] * win, axis=1)) ** 2 / n_fft
    mel = power @ _mel_filterbank(n_mels, n_fft, sr).T
    cc = np.log(np.maximum(mel, 1e-10)) @ _dct_matrix(n_mels)[:n_mfcc].T
    want = np.concatenate([cc.mean(axis=0), cc.std(axis=0)])
    assert np.allclose(out[0], want, atol=1e-12)
