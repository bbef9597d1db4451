"""Real container-header decode tests (round 12 — VERDICT r11
Next-round #6): the PNG IHDR and JPEG SOF parsers against hand-built
spec-valid byte streams (including a fully valid compressed PNG),
hostile corruptions, and the Catalyst-side container synthesis
round-trip that q35 gates end-to-end."""

import struct
import zlib

import pytest

from pyspark.sql import functions as F

from owl_etl_spark.operators.multimodal import (
    _decode,
    extract_features,
    jpeg_container_expr,
    parse_jpeg_header,
    parse_png_header,
    png_container_expr,
)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _make_png(width: int, height: int, with_idat: bool = True) -> bytes:
    """A fully valid grayscale-8 PNG: signature, IHDR, one IDAT holding
    zlib-compressed filter-0 scanlines, IEND. Any external PNG reader
    accepts this byte stream."""
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0))
    out = b"\x89PNG\r\n\x1a\n" + ihdr
    if with_idat:
        raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
        out += _png_chunk(b"IDAT", zlib.compress(raw))
    return out + _png_chunk(b"IEND", b"")


def _make_jpeg(width: int, height: int, *, sof_marker: int = 0xC0,
               comment: bytes = b"", with_app0: bool = True) -> bytes:
    out = b"\xff\xd8"
    if with_app0:
        app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    if comment:
        out += b"\xff\xfe" + struct.pack(">H", len(comment) + 2) + comment
    sof = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    out += bytes([0xFF, sof_marker]) + struct.pack(">H", len(sof) + 2) + sof
    return out + b"\xff\xd9"


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


def test_png_parse_valid_full_file():
    assert parse_png_header(_make_png(640, 480)) == (640, 480)
    assert parse_png_header(_make_png(1, 1)) == (1, 1)
    # large dims exercise all four bytes of the dword pair
    assert parse_png_header(_make_png(70000, 3)) == (70000, 3)


def test_png_parse_header_only_container():
    assert parse_png_header(_make_png(33, 7, with_idat=False)) == (33, 7)


def test_png_rejects_bad_signature():
    with pytest.raises(ValueError, match="bad signature"):
        parse_png_header(b"\x88PNG\r\n\x1a\n" + _make_png(4, 4)[8:])
    with pytest.raises(ValueError, match="bad signature"):
        parse_png_header(b"")


def test_png_rejects_crc_mismatch():
    buf = bytearray(_make_png(12, 34))
    buf[18] ^= 0x01  # flip a width bit WITHOUT fixing the CRC
    with pytest.raises(ValueError, match="CRC mismatch"):
        parse_png_header(bytes(buf))


def test_png_rejects_first_chunk_not_ihdr():
    # a structurally valid chunk stream whose first chunk is tEXt
    bad = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"tEXt", b"hi") + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="not a 13-byte IHDR"):
        parse_png_header(bad)


def test_png_rejects_zero_dimensions():
    with pytest.raises(ValueError, match="nonzero"):
        parse_png_header(_make_png(0, 5, with_idat=False))


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------


def test_jpeg_parse_baseline_and_progressive():
    assert parse_jpeg_header(_make_jpeg(800, 600)) == (800, 600)
    # SOF2 (progressive) sits in the same marker family
    assert parse_jpeg_header(_make_jpeg(321, 123, sof_marker=0xC2)) == (321, 123)


def test_jpeg_scanner_skips_variable_segments():
    # COM with 0xFF bytes inside: a scanner that does not honor the
    # length field desyncs on the embedded fake markers
    evil = b"\xff\xc0\xff\xd8" * 10
    assert parse_jpeg_header(_make_jpeg(44, 55, comment=evil)) == (44, 55)


def test_jpeg_skips_standalone_markers():
    # a TEM marker (0x01, length-less) between segments must be stepped over
    img = _make_jpeg(10, 20)
    with_tem = img[:2] + b"\xff\x01" + img[2:]
    assert parse_jpeg_header(with_tem) == (10, 20)


def test_jpeg_rejects_non_jpeg_and_truncation():
    with pytest.raises(ValueError, match="missing SOI"):
        parse_jpeg_header(b"GIF89a")
    img = _make_jpeg(100, 100)
    with pytest.raises(ValueError, match="out of range"):
        parse_jpeg_header(img[:10])  # cut inside the APP0 segment
    # DHT (C4) shares the C0-CF range but is NOT a frame header
    no_sof = img.replace(b"\xff\xc0", b"\xff\xc4")
    with pytest.raises(ValueError, match="no SOF"):
        parse_jpeg_header(no_sof)


def test_jpeg_rejects_marker_desync():
    img = bytearray(_make_jpeg(9, 9))
    img[2] = 0x00  # APP0's FF clobbered
    with pytest.raises(ValueError, match="desync"):
        parse_jpeg_header(bytes(img))




# ---------------------------------------------------------------------------
# decode dispatch + Catalyst synthesis round-trip
# ---------------------------------------------------------------------------


def test_decode_dispatch_uses_real_parsers():
    png = _make_png(100, 50)
    d = _decode(png, "image/png")
    assert (d["width"], d["height"]) == (100, 50)
    assert d["feature_norm"] == float((100 * 50) % 997) / 997.0
    jpg = _make_jpeg(320, 240)
    d = _decode(jpg, "image/jpeg")
    assert (d["width"], d["height"]) == (320, 240)
    # the same bytes under text/plain use the length stub, NOT the parse
    d = _decode(png, "text/plain")
    assert d["width"] == (len(png) % 640) + 1
    with pytest.raises(NotImplementedError):
        _decode(b"x", "video/unknown")


def test_catalyst_synthesis_round_trips_through_parsers(spark):
    """png_container_expr / jpeg_container_expr build spec-valid
    containers JVM-side (crc32 included); the pure-Python parsers must
    recover the exact synthesized dimensions, and sizes must match the
    57+n / 39+n contracts the q35 oracle encodes."""
    df = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.expr("concat('document body ', repeat('ab', cast(id as int) * 13))").alias("text"),
    )
    n = "octet_length(encode(text, 'utf-8'))"
    png = png_container_expr(f"({n} % 1024) + 1", f"({n} % 768) + 1", "encode(text, 'utf-8')")
    jpg = jpeg_container_expr(f"({n} % 1280) + 1", f"({n} % 720) + 1", "encode(text, 'utf-8')")
    rows = df.select(
        F.expr(png).alias("png"), F.expr(jpg).alias("jpg"), F.expr(n).alias("n")
    ).collect()
    for r in rows:
        assert parse_png_header(bytes(r.png)) == ((r.n % 1024) + 1, (r.n % 768) + 1)
        assert parse_jpeg_header(bytes(r.jpg)) == ((r.n % 1280) + 1, (r.n % 720) + 1)
        assert len(bytes(r.png)) == 57 + r.n
        assert len(bytes(r.jpg)) == 39 + r.n


def test_extract_features_mixed_real_containers(spark):
    """E2E through the Arrow-batched extractor with all four media
    types in one frame — per-type dispatch must route PNG/JPEG rows
    through the real parsers."""
    df = spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.expr("repeat('z', 10 + cast(id as int))").alias("text"),
    )
    n = "octet_length(encode(text, 'utf-8'))"
    payload = (
        F.when(F.col("doc_id") % 3 == 0,
               F.expr(png_container_expr(f"{n} + 3", f"{n} + 4", "encode(text, 'utf-8')")))
        .when(F.col("doc_id") % 3 == 1,
              F.expr(jpeg_container_expr(f"{n} + 5", f"{n} + 6", "encode(text, 'utf-8')")))
        .otherwise(F.encode("text", "utf-8"))
    )
    media = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("image/jpeg"))
        .otherwise(F.lit("text/plain"))
    )
    wrapped = df.select(
        "doc_id", payload.alias("payload"), media.alias("media_type"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )
    got = {r.doc_id: r for r in extract_features(wrapped).collect()}
    for i in range(8):
        ntext = 10 + i
        r = got[i]
        if i % 3 == 0:
            assert (r.width, r.height) == (ntext + 3, ntext + 4)
            assert r.n_bytes == 57 + ntext
        elif i % 3 == 1:
            assert (r.width, r.height) == (ntext + 5, ntext + 6)
            assert r.n_bytes == 39 + ntext
        else:
            assert (r.width, r.height) == ((ntext % 640) + 1, (ntext % 480) + 1)
            assert r.n_bytes == ntext
