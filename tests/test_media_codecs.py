"""REAL media codecs (round 12, continued): baseline JPEG
encoder/decoder, RIFF/WAVE PCM codec, GIF89a LZW animated-frame codec
— the pure stdlib+numpy implementations that close the last
env-stubbed media branches of ``operators/multimodal.py``.

Test strategy mirrors the PNG decoder's suite: exactness laws where
the math is exact (flat-block JPEG, lossless GIF/WAV), tolerance
bounds for lossy paths, loud refusal of unsupported subformats, and
corrupt-container rejection. Spark E2E goes through the Arrow-batched
operators and the oracle-gated queries (q359/q360/q361)."""

import struct

import numpy as np
import pytest

from owl_etl_spark.operators.audiocodec import (
    decode_wav,
    encode_wav_pcm16,
    wav_audio_stats,
)
from owl_etl_spark.operators.imagecodec import (
    _lzw_compress,
    _lzw_decompress,
    decode_gif_frames,
    decode_jpeg_pixels,
    encode_gif_frames,
    encode_jpeg_baseline,
    gif_frame_sample_stats,
    jpeg_pixel_stats,
)
from owl_etl_spark.operators.multimodal import parse_jpeg_header


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("v", [0, 1, 127, 128, 200, 255])
def test_jpeg_flat_block_roundtrip_exact(v):
    img = np.full((8, 8), v, dtype=np.uint8)
    d = decode_jpeg_pixels(encode_jpeg_baseline(img))
    assert d["width"] == 8 and d["height"] == 8 and d["channels"] == 1
    assert (d["pixels"][..., 0] == img).all()


def test_jpeg_multi_block_dc_prediction_exact():
    """Four distinct flat blocks force nonzero DC differentials
    through several Huffman categories — still byte-exact."""
    img = np.zeros((16, 16), dtype=np.uint8)
    img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = 10, 250, 128, 77
    buf = encode_jpeg_baseline(img)
    d = decode_jpeg_pixels(buf)
    assert (d["pixels"][..., 0] == img).all()
    # interop with the existing header-only parser
    assert parse_jpeg_header(buf) == (16, 16)


def test_jpeg_restart_markers_exact():
    img = np.zeros((16, 16), dtype=np.uint8)
    img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = 10, 250, 128, 77
    buf = encode_jpeg_baseline(img, restart_interval=1)
    assert b"\xff\xdd" in buf and buf.count(b"\xff\xd0") >= 1
    d = decode_jpeg_pixels(buf)
    assert (d["pixels"][..., 0] == img).all()


def test_jpeg_random_gray_tolerance():
    """All-ones AC quantization bounds per-coefficient error at 0.5,
    so reconstruction error stays tiny (empirically ≤2 incl. pixel
    rounding)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
    d = decode_jpeg_pixels(encode_jpeg_baseline(img))
    err = np.abs(d["pixels"][..., 0].astype(int) - img.astype(int)).max()
    assert err <= 2


def test_jpeg_odd_dimensions_cropped():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(13, 21), dtype=np.uint8)
    d = decode_jpeg_pixels(encode_jpeg_baseline(img))
    assert d["pixels"].shape == (13, 21, 1)
    assert np.abs(d["pixels"][..., 0].astype(int) - img.astype(int)).max() <= 2


def test_jpeg_color_444_roundtrip():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    d = decode_jpeg_pixels(encode_jpeg_baseline(img))
    assert d["channels"] == 3
    # YCbCr double rounding adds ±2 on top of quantization error
    assert np.abs(d["pixels"].astype(int) - img.astype(int)).max() <= 6


def test_jpeg_color_420_flat_roundtrip():
    img = np.full((16, 24, 3), (90, 160, 30), dtype=np.uint8)
    d = decode_jpeg_pixels(encode_jpeg_baseline(img, subsample_420=True))
    assert np.abs(d["pixels"].astype(int) - img.astype(int)).max() <= 3


def test_jpeg_color_420_random_with_restarts():
    rng = np.random.default_rng(10)
    img = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    buf = encode_jpeg_baseline(img, subsample_420=True, restart_interval=2)
    d = decode_jpeg_pixels(buf)
    assert d["pixels"].shape == (32, 48, 3)
    # chroma is 2x2-subsampled: luma must still be close
    y_in = 0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
    y_out = (
        0.299 * d["pixels"][..., 0]
        + 0.587 * d["pixels"][..., 1]
        + 0.114 * d["pixels"][..., 2]
    )
    # RGB clip + chroma rounding feed back into reconstructed luma,
    # so the bound is looser than pure-gray (observed ~16.5)
    assert np.abs(y_in - y_out).max() <= 24


def test_jpeg_progressive_refused():
    img = np.full((8, 8), 100, dtype=np.uint8)
    buf = bytearray(encode_jpeg_baseline(img))
    i = buf.index(b"\xff\xc0")
    buf[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline sequential only"):
        decode_jpeg_pixels(bytes(buf))


def test_jpeg_truncated_entropy_raises():
    img = np.full((24, 24), 77, dtype=np.uint8)
    buf = encode_jpeg_baseline(img)
    with pytest.raises(ValueError):
        decode_jpeg_pixels(buf[:-8])


def test_jpeg_corrupt_huffman_raises():
    """Flipping entropy bytes must either desync the Huffman stream,
    overflow a block, or hit a marker — never return silently with
    the stream fully consumed and no error."""
    img = np.full((16, 16), 200, dtype=np.uint8)
    buf = bytearray(encode_jpeg_baseline(img))
    sos = bytes(buf).index(b"\xff\xda")
    with pytest.raises(ValueError):
        for flip in range(sos + 14, len(buf) - 2):
            b2 = bytearray(buf)
            b2[flip] ^= 0x55
            decode_jpeg_pixels(bytes(b2))


def test_jpeg_header_only_no_scan_raises():
    img = np.full((8, 8), 50, dtype=np.uint8)
    buf = encode_jpeg_baseline(img)
    sos = buf.index(b"\xff\xda")
    with pytest.raises(ValueError, match="no SOS scan"):
        decode_jpeg_pixels(buf[:sos] + b"\xff\xd9")


def test_jpeg_bad_quant_table_rejected_by_encoder():
    img = np.full((8, 8), 50, dtype=np.uint8)
    with pytest.raises(ValueError, match="quant table"):
        encode_jpeg_baseline(img, quant_luma=np.zeros(64))


# ---------------------------------------------------------------------------
# GIF / LZW
# ---------------------------------------------------------------------------


def test_lzw_roundtrip_includes_kwkwk():
    """'aaaa...' triggers the KwKwK case (code == next table slot)."""
    data = b"\x01" * 50 + bytes(range(20)) + b"\x02\x02\x02\x02"
    assert _lzw_decompress(_lzw_compress(data), 8, len(data)) == data


def test_lzw_table_reset_beyond_4096_codes():
    rng = np.random.default_rng(3)
    data = rng.integers(0, 256, size=40000, dtype=np.uint8).tobytes()
    assert _lzw_decompress(_lzw_compress(data), 8, len(data)) == data


def test_gif_animated_roundtrip_lossless():
    rng = np.random.default_rng(4)
    frames = rng.integers(0, 256, size=(5, 11, 17), dtype=np.uint8)
    d = decode_gif_frames(encode_gif_frames(frames))
    assert d["n_frames"] == 5 and d["width"] == 17 and d["height"] == 11
    assert (d["frames"] == frames).all()


def test_gif_truncated_raises():
    frames = np.full((2, 8, 8), 9, dtype=np.uint8)
    buf = encode_gif_frames(frames)
    with pytest.raises(ValueError):
        decode_gif_frames(buf[: len(buf) // 2])


def test_gif_non_gray_palette_refused():
    frames = np.full((1, 4, 4), 3, dtype=np.uint8)
    buf = bytearray(encode_gif_frames(frames))
    buf[13 + 3 * 7] ^= 0xFF  # palette entry 7, red component
    with pytest.raises(ValueError, match="non-grayscale"):
        decode_gif_frames(bytes(buf))


def test_gif_interlaced_refused():
    frames = np.full((1, 4, 4), 3, dtype=np.uint8)
    buf = bytearray(encode_gif_frames(frames))
    # image descriptor follows the graphic-control extension (its 0x2C
    # byte can't be found by a bare search: palette entry 44 is 0x2C)
    i = bytes(buf).index(b"\x21\xf9\x04") + 8
    assert buf[i] == 0x2C
    buf[i + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        decode_gif_frames(bytes(buf))


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------


def test_wav_mono_roundtrip_lossless():
    rng = np.random.default_rng(5)
    s = rng.integers(-32768, 32768, size=301, dtype=np.int16)
    d = decode_wav(encode_wav_pcm16(s, 8000))
    assert d["sample_rate"] == 8000 and d["channels"] == 1 and d["n_frames"] == 301
    assert (d["samples"][:, 0] == s).all()


def test_wav_stereo_roundtrip_lossless():
    rng = np.random.default_rng(6)
    s = rng.integers(-32768, 32768, size=(100, 2), dtype=np.int16)
    d = decode_wav(encode_wav_pcm16(s, 44100, channels=2))
    assert d["channels"] == 2 and (d["samples"] == s).all()


def test_wav_unknown_chunks_skipped():
    s = np.arange(-50, 50, dtype=np.int16)
    buf = encode_wav_pcm16(s, 8000)
    ins = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd len + pad
    spliced = buf[:36] + ins + buf[36:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    d = decode_wav(spliced)
    assert (d["samples"][:, 0] == s).all()


def test_wav_float_format_refused():
    s = np.zeros(10, dtype=np.int16)
    buf = bytearray(encode_wav_pcm16(s, 8000))
    buf[20] = 3  # fmt tag -> IEEE float
    with pytest.raises(ValueError, match="PCM only"):
        decode_wav(bytes(buf))


def test_wav_truncated_raises():
    s = np.zeros(100, dtype=np.int16)
    buf = encode_wav_pcm16(s, 8000)
    with pytest.raises(ValueError):
        decode_wav(buf[:40])


def test_wav_inconsistent_byte_rate_raises():
    s = np.zeros(10, dtype=np.int16)
    buf = bytearray(encode_wav_pcm16(s, 8000))
    buf[28] ^= 1  # byte-rate field
    with pytest.raises(ValueError, match="byte-rate"):
        decode_wav(bytes(buf))


# ---------------------------------------------------------------------------
# Spark E2E through the Arrow-batched operators
# ---------------------------------------------------------------------------


def test_jpeg_pixel_stats_spark(spark):
    imgs = []
    for doc_id in range(6):
        v = [(doc_id * 31 + j * 17) % 256 for j in range(4)]
        img = np.zeros((16, 16), dtype=np.uint8)
        img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = v
        imgs.append((doc_id, bytearray(encode_jpeg_baseline(img)), v))
    df = spark.createDataFrame(
        [(i, bytes(b)) for i, b, _ in imgs], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in jpeg_pixel_stats(df).collect()}
    for doc_id, _, v in imgs:
        r = rows[doc_id]
        assert (r["width"], r["height"], r["channels"]) == (16, 16, 1)
        assert r["px_sum"] == 64 * sum(v)
        assert r["px_min"] == min(v) and r["px_max"] == max(v)


def test_wav_audio_stats_spark(spark):
    i = np.arange(256, dtype=np.int64)
    payloads = []
    for doc_id in range(4):
        smp = ((doc_id * 7919 + i * 104729) % 20001) - 10000
        payloads.append((doc_id, encode_wav_pcm16(smp.astype(np.int16), 8000), smp))
    df = spark.createDataFrame(
        [(d, bytes(b)) for d, b, _ in payloads], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in wav_audio_stats(df).collect()}
    for doc_id, _, smp in payloads:
        r = rows[doc_id]
        assert r["sum_sq"] == int((smp * smp).sum())
        assert r["zero_crossings"] == int(((smp[:-1] * smp[1:]) < 0).sum())
        assert r["peak"] == int(np.abs(smp).max())


def test_gif_frame_sample_stats_spark(spark):
    payloads = []
    for doc_id in range(5):
        nf = 4 + doc_id % 5
        vals = [(doc_id * 19 + f * 37) % 256 for f in range(nf)]
        frames = np.stack([np.full((8, 8), v, dtype=np.uint8) for v in vals])
        payloads.append((doc_id, encode_gif_frames(frames), vals))
    df = spark.createDataFrame(
        [(d, bytes(b)) for d, b, _ in payloads], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in gif_frame_sample_stats(df).collect()}
    for doc_id, _, vals in payloads:
        r = rows[doc_id]
        sampled = vals[::2]
        assert r["n_frames"] == len(vals)
        assert r["n_sampled"] == len(sampled)
        assert r["sampled_sum"] == 64 * sum(sampled)
        assert r["sampled_min"] == min(sampled)
        assert r["sampled_max"] == max(sampled)


# ---------------------------------------------------------------------------
# mixed-media dispatch: the GIF/WAV branches of multimodal._decode
# ---------------------------------------------------------------------------


def test_decode_dispatch_gif_and_wav_are_real():
    from owl_etl_spark.operators.multimodal import _decode

    frames = np.stack([np.full((8, 8), v, dtype=np.uint8) for v in (5, 9, 200)])
    d = _decode(encode_gif_frames(frames), "image/gif")
    assert (d["width"], d["height"]) == (8, 8)
    assert d["feature_norm"] == float((8 * 8 * 3) % 991) / 991.0

    smp = np.array([-32768, 0, 100, -5], dtype=np.int16)
    d = _decode(encode_wav_pcm16(smp, 8000), "audio/wav")
    assert (d["width"], d["height"]) == (4, 1)
    # peak must survive the int16 abs(-32768) trap
    assert d["feature_norm"] == float((4 + 32768) % 983) / 983.0


def test_decode_dispatch_rejects_corrupt_containers():
    from owl_etl_spark.operators.multimodal import _decode

    with pytest.raises(ValueError):
        _decode(b"GIF89a\x00\x00", "image/gif")
    with pytest.raises(ValueError):
        _decode(b"RIFFxxxxWAVE", "audio/wav")
    with pytest.raises(NotImplementedError):
        _decode(b"\x00", "video/mp4")
