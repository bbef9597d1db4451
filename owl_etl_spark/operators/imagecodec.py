"""REAL image codecs, pure stdlib + numpy — no external codec
dependency: a baseline-DCT JPEG encoder/decoder (ITU-T T.81: marker
segments, canonical Huffman entropy coding with byte stuffing,
zigzag + dequantization, vectorized 8x8 IDCT, MCU interleave with
generic sampling factors, JFIF YCbCr color) and an animated-GIF
encoder/decoder (GIF89a: logical screen descriptor, graphic control
extensions, LSB-first variable-width LZW per the spec, palette
mapping) with a frame-sampling operator.

This closes the last env-stubbed media branch of
``operators/multimodal.py``: JPEG *entropy* decode (the header walk
was already real) and video-style frame sampling are now genuine
byte-level decodes. Reference parity note: the reference pipeline
(Jave-OWL/owl-ETL `src/etl/extract.py`) treats documents as opaque
binary handed to an external service; this engine's multimodal
surface goes further and decodes containers in-process, per the
training-data-pipeline mandate.

Exactness device for oracle-gated queries: an image whose 8x8 blocks
are each FLAT (constant-valued) has a DC-only DCT (all AC exactly 0);
with the DC quantization step set to 8, the quantized code is exactly
``v - 128`` and the decode round-trips every pixel byte-for-byte, so
a DuckDB oracle can replay decoded pixel statistics from the block-
value formula without any codec. GIF is lossless by construction, so
its oracle replays exactly too. Lossy general-image round-trips are
pinned by tolerance tests instead.

Scale notes: both decoders run inside Arrow-batched ``mapInPandas``
stages — one Python worker per task, peak memory one batch of
payloads; the per-block IDCT is a batched numpy matmul, not a Python
loop over pixels. At 100 TB the decode stage is embarrassingly
parallel (no shuffle); only the downstream aggregate shuffles.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# shared 8x8 DCT machinery
# ---------------------------------------------------------------------------


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix C with C[u, x] =
    (1/2)·c(u)·cos((2x+1)uπ/16), c(0)=1/√2 — so the 2-D forward
    transform is ``C @ block @ C.T`` and the inverse is
    ``C.T @ coef @ C`` (T.81 §A.3.3 up to the orthonormal scaling)."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    c[0, :] /= np.sqrt(2.0)
    return c


_C = _dct_matrix()

#: zigzag scan: _ZIGZAG[k] = natural (row-major) index of the k-th
#: zigzag-ordered coefficient (T.81 Figure 5). Generated, not typed,
#: so it cannot be mistranscribed: diagonal s runs (0,s)->(s,0) for
#: odd s (row increasing) and (s,0)->(0,s) for even s.
def _zigzag_order() -> list[int]:
    out = []
    for s in range(15):
        pts = [(r, s - r) for r in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            pts.reverse()
        out.extend(r * 8 + c for r, c in pts)
    return out


_ZIGZAG = _zigzag_order()

# ---------------------------------------------------------------------------
# JPEG: canonical Huffman tables
# ---------------------------------------------------------------------------
#
# The tables are written INTO the stream (DHT), so any valid
# prefix-free code works for interop; we use flat-length canonical
# tables (all 12 DC categories at 4 bits, all 162 AC run/size symbols
# at 8 bits). Both satisfy T.81's reserved all-ones constraint:
# 12 < 2^4 and 162 < 2^8 leave the max code unassigned.

#: DC symbol set: magnitude categories 0..11.
_DC_SYMBOLS = list(range(12))
#: AC symbol set: EOB, ZRL, and (run<<4 | size) for run 0..15, size 1..10.
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical assignment of T.81
    Annex C: codes of each length are consecutive, starting from
    double the previous length's end."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_BITS = [0, 0, 0, 12] + [0] * 12
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162] + [0] * 8
_DC_ENC = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_SYMBOLS)

#: default quantization tables (natural order). All-ones AC with a
#: DC step of 8 makes flat blocks decode EXACTLY (see module doc);
#: general images round-trip within a small tolerance.
_DEFAULT_QUANT = np.ones(64, dtype=np.int32)
_DEFAULT_QUANT[0] = 8


class _BitWriter:
    """MSB-first bit accumulator with T.81 §B.1.1.5 byte stuffing
    (0xFF in entropy data is followed by 0x00)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> bytes:
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)  # pad with 1s
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with byte
    unstuffing; stops at any non-stuffing marker (EOI/RSTn handled by
    the caller via ``expect_rst``/position)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy data truncated")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("JPEG entropy data truncated at 0xFF")
            nxt = d[self.pos + 1]
            if nxt == 0x00:  # stuffed data byte
                self.pos += 2
            else:  # a real marker mid-stream
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def expect_rst(self, idx: int) -> None:
        """Byte-align and consume the RSTn marker (T.81 §B.2.1)."""
        self._acc = 0
        self._n = 0
        d = self.data
        if self.pos + 2 > len(d) or d[self.pos] != 0xFF or d[self.pos + 1] != 0xD0 + (idx % 8):
            raise ValueError(f"expected RST{idx % 8} marker at byte {self.pos}")
        self.pos += 2


def _extend(bits: int, size: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map a ``size``-bit magnitude field to its
    signed value (negatives are stored as value + 2^size - 1)."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# JPEG encoder
# ---------------------------------------------------------------------------


def _encode_block(
    writer: _BitWriter, coef_zz: np.ndarray, dc_pred: int
) -> int:
    """Huffman-encode one quantized block (zigzag order); returns the
    new DC predictor."""
    dc = int(coef_zz[0])
    diff = dc - dc_pred
    s = _category(diff)
    code, length = _DC_ENC[s]
    writer.put(code, length)
    if s:
        writer.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(coef_zz)[0])) if np.any(coef_zz[1:]) else 0
    for k in range(1, 64):
        v = int(coef_zz[k])
        if v == 0:
            if k > last_nz:
                break
            run += 1
            if run == 16:
                c, ln = _AC_ENC[0xF0]  # ZRL
                writer.put(c, ln)
                run = 0
            continue
        s = _category(v)
        if s > 10:
            raise ValueError(f"AC coefficient {v} out of baseline range")
        c, ln = _AC_ENC[(run << 4) | s]
        writer.put(c, ln)
        writer.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, ln = _AC_ENC[0x00]  # EOB
        writer.put(c, ln)
    return dc


def _plane_blocks(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """Forward-DCT + quantize a (H, W) plane (H, W multiples of 8) into
    zigzag-ordered int32 blocks of shape (blocks_y, blocks_x, 64)."""
    h, w = plane.shape
    shifted = plane.astype(np.float64) - 128.0
    blocks = shifted.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    coefs = _C @ blocks @ _C.T
    q = np.rint(coefs / quant.reshape(8, 8)).astype(np.int32)
    return q.reshape(h // 8, w // 8, 64)[..., _ZIGZAG]


def _pad_to(img: np.ndarray, mult_y: int, mult_x: int) -> np.ndarray:
    """Edge-replicate pad a (H, W) plane to multiples of (mult_y, mult_x)."""
    h, w = img.shape
    ph = (-h) % mult_y
    pw = (-w) % mult_x
    if ph or pw:
        img = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    return img


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF (ITU-R BT.601 full-range) RGB -> YCbCr, rounded to uint8."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.rint(np.stack([y, cb, cr], axis=-1)), 0, 255).astype(np.uint8)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64) - 128.0
    cr = ycc[..., 2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _dht_segment(tclass: int, tid: int, bits: list[int], symbols: list[int]) -> bytes:
    payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _dqt_segment(tid: int, quant: np.ndarray) -> bytes:
    zz = quant[_ZIGZAG].astype(np.uint8).tobytes()
    return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zz


def encode_jpeg_baseline(
    pixels: np.ndarray,
    quant_luma: np.ndarray | None = None,
    subsample_420: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """REAL baseline JPEG encoder (T.81 §F.1): level shift, 8x8
    forward DCT, quantization, zigzag, canonical-Huffman entropy
    coding with byte stuffing, full marker-segment framing (SOI, JFIF
    APP0, DQT, SOF0, DHT, SOS, EOI). ``pixels`` is uint8 (H, W)
    grayscale or (H, W, 3) RGB; RGB is converted to JFIF YCbCr and
    optionally 4:2:0-subsampled (2x2 box mean). Quant tables are in
    NATURAL order, entries 1..255; chroma uses the luma table."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    ql = (_DEFAULT_QUANT if quant_luma is None else np.asarray(quant_luma)).astype(
        np.int32
    )
    if ql.size != 64 or ql.min() < 1 or ql.max() > 255:
        raise ValueError("quant table must be 64 entries in 1..255")
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if not h or not w:
        raise ValueError("empty image")
    if h > 65535 or w > 65535:
        raise ValueError("image dimensions exceed the 16-bit JPEG bound")

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"  # APP0
    out += _dqt_segment(0, ql)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    writer = _BitWriter()
    entropy = bytearray()
    mcu_count = 0

    def _mcu_boundary() -> None:
        """Between MCUs: at each restart-interval boundary, flush the
        bit buffer (1-padded), splice the RSTn marker into the entropy
        stream, and reset DC predictors (T.81 §B.2.1)."""
        nonlocal writer, mcu_count
        mcu_count += 1
        if restart_interval and mcu_count % restart_interval == 0:
            entropy.extend(writer.flush())
            entropy.extend(
                bytes([0xFF, 0xD0 + (mcu_count // restart_interval - 1) % 8])
            )
            writer = _BitWriter()
            preds[:] = [0] * len(preds)

    if gray:
        plane = _pad_to(pixels, 8, 8)
        zz = _plane_blocks(plane, ql)
        out += (
            b"\xff\xc0"
            + struct.pack(">HBHHB", 11, 8, h, w, 1)
            + bytes([1, 0x11, 0])
        )
        out += _dht_segment(0, 0, _DC_BITS, _DC_SYMBOLS)
        out += _dht_segment(1, 0, _AC_BITS, _AC_SYMBOLS)
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
        preds = [0]
        nby, nbx = zz.shape[:2]
        for by in range(nby):
            for bx in range(nbx):
                preds[0] = _encode_block(writer, zz[by, bx], preds[0])
                if not (by == nby - 1 and bx == nbx - 1):
                    _mcu_boundary()
    else:
        if pixels.shape[2] != 3:
            raise ValueError("color images must be (H, W, 3) RGB")
        ycc = _rgb_to_ycbcr(pixels)
        out += _dqt_segment(1, ql)
        hs = 2 if subsample_420 else 1
        y_plane = _pad_to(ycc[..., 0], 8 * hs, 8 * hs)
        if subsample_420:
            cpad = [_pad_to(ycc[..., i], 16, 16) for i in (1, 2)]
            chroma = [
                np.rint(
                    c.reshape(c.shape[0] // 2, 2, c.shape[1] // 2, 2)
                    .astype(np.float64)
                    .mean(axis=(1, 3))
                ).astype(np.uint8)
                for c in cpad
            ]
        else:
            chroma = [_pad_to(ycc[..., i], 8, 8) for i in (1, 2)]
        zzs = [_plane_blocks(y_plane, ql)] + [_plane_blocks(c, ql) for c in chroma]
        comp = bytes([1, (hs << 4) | hs, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
        out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 9, 8, h, w, 3) + comp
        out += _dht_segment(0, 0, _DC_BITS, _DC_SYMBOLS)
        out += _dht_segment(1, 0, _AC_BITS, _AC_SYMBOLS)
        out += _dht_segment(0, 1, _DC_BITS, _DC_SYMBOLS)
        out += _dht_segment(1, 1, _AC_BITS, _AC_SYMBOLS)
        out += (
            b"\xff\xda"
            + struct.pack(">HB", 12, 3)
            + bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
        )
        preds = [0, 0, 0]
        mcus_y = y_plane.shape[0] // (8 * hs)
        mcus_x = y_plane.shape[1] // (8 * hs)
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for v in range(hs):
                    for hh in range(hs):
                        preds[0] = _encode_block(
                            writer, zzs[0][my * hs + v, mx * hs + hh], preds[0]
                        )
                preds[1] = _encode_block(writer, zzs[1][my, mx], preds[1])
                preds[2] = _encode_block(writer, zzs[2][my, mx], preds[2])
                if not (my == mcus_y - 1 and mx == mcus_x - 1):
                    _mcu_boundary()

    out += bytes(entropy)
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# JPEG decoder
# ---------------------------------------------------------------------------


def _parse_dht(payload: bytes) -> dict[tuple[int, int], dict[tuple[int, int], int]]:
    """Parse one DHT segment body into {(class, id): {(length, code):
    symbol}} canonical decode maps (a segment may carry several)."""
    tables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    i = 0
    while i < len(payload):
        tc, th = payload[i] >> 4, payload[i] & 0x0F
        bits = list(payload[i + 1 : i + 17])
        nsym = sum(bits)
        symbols = list(payload[i + 17 : i + 17 + nsym])
        if len(symbols) != nsym:
            raise ValueError("JPEG DHT truncated")
        dec: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                dec[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        tables[(tc, th)] = dec
        i += 17 + nsym
    return tables


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code (corrupt entropy data)")


def _decode_block(
    reader: _BitReader,
    dc_table: dict[tuple[int, int], int],
    ac_table: dict[tuple[int, int], int],
    dc_pred: int,
) -> tuple[np.ndarray, int]:
    coef = np.zeros(64, dtype=np.int32)
    s = _huff_decode(reader, dc_table)
    dc_pred += _extend(reader.receive(s), s)
    coef[0] = dc_pred
    k = 1
    while k < 64:
        rs = _huff_decode(reader, ac_table)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            if run == 0:  # EOB
                break
            raise ValueError(f"invalid JPEG AC symbol 0x{rs:02X}")
        k += run
        if k > 63:
            raise ValueError("JPEG AC run overflows the block")
        coef[_ZIGZAG[k]] = _extend(reader.receive(size), size)
        k += 1
    return coef, dc_pred


def decode_jpeg_pixels(payload: bytes) -> dict:
    """FULL baseline JPEG decode, pure stdlib + numpy: marker walk,
    DQT/DHT/SOF0/SOS/DRI parse, canonical-Huffman entropy decode with
    byte unstuffing and restart-marker handling, dequantization,
    un-zigzag, batched 8x8 IDCT, MCU de-interleave with generic
    sampling factors (4:4:4 and 4:2:0 tested), replication upsample,
    and JFIF YCbCr->RGB. Returns ``{"width", "height", "channels",
    "pixels"}`` with ``pixels`` uint8 (H, W, channels).

    Scope: baseline sequential DCT (SOF0), 8-bit precision, 1 or 3
    components in a single interleaved scan. Progressive (SOF2),
    arithmetic coding, hierarchical, and 12-bit streams raise
    ``ValueError`` loudly — same contract as the PNG decoder's
    palette/Adam7 refusals."""
    data = bytes(payload)
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI marker)")
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (height, width, [(cid, h, v, tq), ...])
    restart_interval = 0
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            raise ValueError(f"JPEG marker desync at byte {i}")
        marker = data[i + 1]
        if marker == 0xD9:
            raise ValueError("JPEG reached EOI before a scan")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
        if seglen < 2 or i + 2 + seglen > n:
            raise ValueError("JPEG segment length out of range (truncated?)")
        body = data[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                prec, tid = body[j] >> 4, body[j] & 0x0F
                if prec:
                    raise ValueError("16-bit quantization tables not supported")
                zz = np.frombuffer(body[j + 1 : j + 65], dtype=np.uint8).astype(
                    np.int32
                )
                if zz.size != 64:
                    raise ValueError("JPEG DQT truncated")
                nat = np.zeros(64, dtype=np.int32)
                nat[_ZIGZAG] = zz
                quant[tid] = nat
                j += 65
        elif marker == 0xC4:  # DHT
            huff.update(_parse_dht(body))
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1 (both Huffman sequential)
            precision = body[0]
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            height, width = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            if not width or not height:
                raise ValueError("JPEG dimensions must be nonzero")
            frame = (height, width, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding process (SOF marker 0xFF{marker:02X}; "
                "baseline sequential only)"
            )
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF frame header")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan.append((cs, tt >> 4, tt & 0x0F))
            return _decode_scan(
                data, i + 2 + seglen, frame, scan, quant, huff, restart_interval
            )
        i += 2 + seglen
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(
    data: bytes,
    pos: int,
    frame: tuple,
    scan: list[tuple[int, int, int]],
    quant: dict[int, np.ndarray],
    huff: dict[tuple[int, int], dict[tuple[int, int], int]],
    restart_interval: int,
) -> dict:
    height, width, comps = frame
    if len(scan) != len(comps):
        raise ValueError("JPEG partial scans not supported (single interleaved scan)")
    if len(comps) not in (1, 3):
        raise ValueError(f"unsupported JPEG component count {len(comps)}")
    by_id = {cid: (h, v, tq) for cid, h, v, tq in comps}
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    order = []  # (scan position) -> (comp index, h, v, dc_tbl, ac_tbl, quant)
    planes = []
    for ci, (cs, td, ta) in enumerate(scan):
        if cs not in by_id:
            raise ValueError(f"JPEG scan references unknown component {cs}")
        h, v, tq = by_id[cs]
        if tq not in quant:
            raise ValueError(f"JPEG missing quantization table {tq}")
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("JPEG missing Huffman table for scan")
        order.append((ci, h, v, huff[(0, td)], huff[(1, ta)], quant[tq]))
        planes.append(
            np.zeros((mcus_y * v, mcus_x * h, 64), dtype=np.float64)
        )
    reader = _BitReader(data, pos)
    preds = [0] * len(scan)
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                reader.expect_rst(mcu_index // restart_interval - 1)
                preds = [0] * len(scan)
            for ci, h, v, dt, at, qt in order:
                for bv in range(v):
                    for bh in range(h):
                        coef, preds[ci] = _decode_block(reader, dt, at, preds[ci])
                        planes[ci][my * v + bv, mx * h + bh] = coef * qt
            mcu_index += 1
    out_planes = []
    for ci, h, v, _, _, _ in order:
        blocks = planes[ci].reshape(planes[ci].shape[0], planes[ci].shape[1], 8, 8)
        pix = _C.T @ blocks @ _C + 128.0
        by, bx = planes[ci].shape[:2]
        plane = pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        plane = np.clip(np.rint(plane), 0, 255).astype(np.uint8)
        plane = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1)
        out_planes.append(plane[:height, :width])
    if len(out_planes) == 1:
        pixels = out_planes[0][..., None]
        channels = 1
    else:
        pixels = _ycbcr_to_rgb(np.stack(out_planes, axis=-1))
        channels = 3
    return {
        "width": int(width),
        "height": int(height),
        "channels": channels,
        "pixels": pixels,
    }


# ---------------------------------------------------------------------------
# GIF89a: LZW codec + animated frames
# ---------------------------------------------------------------------------


class _LSBWriter:
    """LSB-first bit packer (GIF appendix F): successive codes fill
    bytes from the least-significant bit up."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        self._acc |= (value & ((1 << nbits) - 1)) << self._n
        self._n += nbits
        while self._n >= 8:
            self.buf.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def flush(self) -> bytes:
        if self._n:
            self.buf.append(self._acc & 0xFF)
            self._acc = 0
            self._n = 0
        return bytes(self.buf)


def _lzw_compress(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF variable-width LZW (Appendix F): dict of root codes + CLEAR
    + EOI, code width grows at 2^width, table resets at 4096."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _LSBWriter()

    def reset() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = reset()
    w.put(clear, width)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        w.put(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= 4096:
            w.put(clear, width)
            table, next_code, width = reset()
        prefix = bytes([b])
    if prefix:
        w.put(table[prefix], width)
    w.put(eoi, width)
    return w.flush()


def _lzw_decompress(data: bytes, min_code_size: int, expected: int) -> bytes:
    """Inverse of ``_lzw_compress`` including the KwKwK case; stops at
    EOI or after ``expected`` output bytes."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while len(out) < expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW data truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW first code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF LZW code out of range (corrupt stream)")
        out += entry
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError(f"GIF frame decoded {len(out)} of {expected} pixels")
    return bytes(out[:expected])


def _sub_blocks(data: bytes) -> bytes:
    """Wrap raw bytes into GIF data sub-blocks (≤255 bytes each) with
    the zero terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif_frames(frames: np.ndarray) -> bytes:
    """REAL animated-GIF encoder: GIF89a header, logical screen
    descriptor, a 256-entry grayscale global palette (index == gray
    level, so the codec is LOSSLESS for 8-bit gray), NETSCAPE2.0 loop
    extension, and per frame a graphic-control extension + image
    descriptor + LZW-compressed indices. ``frames`` is uint8
    (n_frames, H, W)."""
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim != 3 or not frames.size:
        raise ValueError("frames must be a non-empty (n, H, W) uint8 array")
    nf, h, w = frames.shape
    if h > 65535 or w > 65535:
        raise ValueError("GIF dimensions exceed the 16-bit bound")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])  # global palette: 256 entries, 8-bit color res
    out += bytes(v for i in range(256) for v in (i, i, i))  # grayscale ramp
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in range(nf):
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", 4) + b"\x00\x00"  # 4 cs delay
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([8]) + _sub_blocks(_lzw_compress(frames[f].tobytes(), 8))
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(payload: bytes) -> dict:
    """REAL animated-GIF decoder: header + logical-screen parse,
    global palette, extension-block walk, per-frame LZW decompress
    (variable code width, CLEAR/EOI, KwKwK), palette mapping back to
    gray. Returns ``{"width", "height", "n_frames", "frames"}`` with
    ``frames`` uint8 (n, H, W) of palette-mapped LUMA (palette
    entries must be grayscale — color palettes raise, keeping the
    codec's lossless contract honest). Interlaced frames, local
    palettes, and frame offsets raise ``ValueError``."""
    data = bytes(payload)
    if len(data) < 13 or data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF (bad signature)")
    w, h = struct.unpack("<HH", data[6:10])
    packed = data[10]
    if not packed & 0x80:
        raise ValueError("GIF without a global color table not supported")
    gct_size = 2 << (packed & 0x07)
    i = 13
    palette = np.frombuffer(data[i : i + 3 * gct_size], dtype=np.uint8).reshape(-1, 3)
    if palette.shape[0] != gct_size:
        raise ValueError("GIF global color table truncated")
    if not (palette[:, 0] == palette[:, 1]).all() or not (
        palette[:, 1] == palette[:, 2]
    ).all():
        raise ValueError("non-grayscale GIF palette (lossless gray contract)")
    lut = palette[:, 0]
    i += 3 * gct_size
    frames = []
    n = len(data)
    while i < n:
        block = data[i]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: skip sub-blocks
            i += 2
            while i < n and data[i]:
                i += 1 + data[i]
            i += 1
        elif block == 0x2C:  # image descriptor
            left, top, fw, fh = struct.unpack("<HHHH", data[i + 1 : i + 9])
            flags = data[i + 9]
            if left or top or fw != w or fh != h:
                raise ValueError("GIF frame offsets/partial frames not supported")
            if flags & 0x80:
                raise ValueError("GIF local color tables not supported")
            if flags & 0x40:
                raise ValueError("interlaced GIF frames not supported")
            i += 10
            min_code = data[i]
            i += 1
            lzw = bytearray()
            while i < n and data[i]:
                sz = data[i]
                lzw += data[i + 1 : i + 1 + sz]
                i += 1 + sz
            i += 1
            idx = np.frombuffer(
                _lzw_decompress(bytes(lzw), min_code, w * h), dtype=np.uint8
            )
            if int(idx.max(initial=0)) >= gct_size:
                raise ValueError("GIF pixel index outside the palette")
            frames.append(lut[idx].reshape(h, w))
        else:
            raise ValueError(f"unknown GIF block 0x{block:02X} at byte {i}")
    if not frames:
        raise ValueError("GIF contains no image frames")
    return {
        "width": int(w),
        "height": int(h),
        "n_frames": len(frames),
        "frames": np.stack(frames),
    }


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

JPEG_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "px_sum bigint, px_min int, px_max int"
)


def jpeg_pixel_stats(df: DataFrame) -> DataFrame:
    """Decode a JPEG binary column with the FULL entropy decoder and
    emit exact integer pixel statistics per row — Arrow-batched
    ``mapInPandas``, shuffle-free. Stats are computed over the luma/
    gray plane (channel 0) in int64, so downstream aggregation and
    oracles stay exact."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_jpeg_pixels(bytes(payload))
                luma = d["pixels"][..., 0].astype(np.int64)
                rows.append(
                    (
                        doc_id,
                        d["width"],
                        d["height"],
                        d["channels"],
                        int(luma.sum()),
                        int(luma.min()),
                        int(luma.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "channels",
                    "px_sum",
                    "px_min",
                    "px_max",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(fn, schema=JPEG_STATS_SCHEMA)


GIF_SAMPLE_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, "
    "n_sampled int, sampled_sum bigint, sampled_min int, sampled_max int"
)


def gif_frame_sample_stats(df: DataFrame) -> DataFrame:
    """Decode an animated-GIF binary column and FRAME-SAMPLE it (every
    2nd frame, starting at 0 — the video keyframe-sampling
    shape), emitting exact integer stats over the sampled frames.
    Arrow-batched ``mapInPandas``; at scale the decode parallelizes
    per-payload with no shuffle."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_gif_frames(bytes(payload))
                sampled = d["frames"][::2].astype(np.int64)
                rows.append(
                    (
                        doc_id,
                        d["width"],
                        d["height"],
                        d["n_frames"],
                        sampled.shape[0],
                        int(sampled.sum()),
                        int(sampled.min()),
                        int(sampled.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "n_frames",
                    "n_sampled",
                    "sampled_sum",
                    "sampled_min",
                    "sampled_max",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(fn, schema=GIF_SAMPLE_SCHEMA)
