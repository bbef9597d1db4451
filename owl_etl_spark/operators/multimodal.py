"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/featurized through Arrow-batched ``mapInPandas``.

Real pipelines carry images/audio/video as ``binary`` columns next to
typed metadata, and run decode → feature-extract → resize/frame-sample
as vectorized UDF stages. Container-HEADER decoding is real and pure
stdlib (round 12): ``parse_png_header`` verifies the PNG signature and
the IHDR chunk's CRC-32 and reads the big-endian dimension pair
(ISO/IEC 15948 §11.2.2); ``parse_jpeg_header`` walks the marker-
segment stream to the SOFn frame header (ITU-T T.81 §B.2). Full PIXEL
decode is ALSO real, pure stdlib+numpy: baseline JPEG entropy
decode / WAV PCM / animated-GIF LZW in ``operators/imagecodec.py``
and ``operators/audiocodec.py``. The only stubbed ``_decode`` media
types left are the synthetic ``text/plain`` / ``image/fake`` formula
branches kept for the mixed-dispatch oracle (q35) — every named
container format decodes for real.

Scale notes: ``mapInPandas`` streams Arrow batches, so peak memory is
one batch of payloads per task — size ``spark.sql.execution.arrow.
maxRecordsPerBatch`` to keep batch_bytes × task_threads inside executor
memory when payloads are MBs (images), and repartition upstream so
tasks are payload-balanced rather than row-balanced.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of the feature extractor — fixed and explicit so the
#: pipeline's downstream schema never depends on UDF internals.
FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, "
    "width int, height int, feature_norm double"
)


def to_binary_payload(
    df: DataFrame,
    media_type: F.Column | None = None,
) -> DataFrame:
    """Wrap a source column as an opaque binary payload with typed
    metadata — the canonical multimodal row shape:
    (id, payload binary, media_type string, n_bytes long).
    ``media_type`` may be a Column for mixed-media corpora (drives the
    per-type decoder dispatch in ``extract_features``)."""
    return df.select(
        F.col("doc_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        (media_type if media_type is not None else F.lit("text/plain")).alias("media_type"),
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
    )


#: 8-byte PNG file signature (ISO/IEC 15948 §5.2)
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: JPEG frame-header (SOFn) markers: C0–CF minus DHT (C4), JPG (C8),
#: DAC (CC), which share the range but are not frame headers
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_png_header(payload: bytes) -> tuple[int, int]:
    """REAL PNG container parse, pure stdlib: verify the 8-byte
    signature, require the first chunk to be the mandatory 13-byte
    IHDR, verify the chunk's CRC-32 (zlib.crc32 over type+data — a
    torn or bit-flipped container fails loudly), and return
    ``(width, height)`` from the big-endian dword pair at bytes 16–24
    (ISO/IEC 15948 §11.2.2). Chunks after IHDR (pixel data, ancillary
    text) are irrelevant to header featurization and are not read —
    O(1) regardless of payload size."""
    import struct
    import zlib

    if len(payload) < 33 or bytes(payload[:8]) != PNG_SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    length, ctype = struct.unpack(">I4s", payload[8:16])
    if ctype != b"IHDR" or length != 13:
        raise ValueError("PNG first chunk is not a 13-byte IHDR")
    (crc,) = struct.unpack(">I", payload[29:33])
    if zlib.crc32(bytes(payload[12:29])) & 0xFFFFFFFF != crc:
        raise ValueError("PNG IHDR CRC mismatch (corrupt container)")
    width, height = struct.unpack(">II", payload[16:24])
    if not width or not height:
        raise ValueError("PNG dimensions must be nonzero")
    return width, height


def parse_jpeg_header(payload: bytes) -> tuple[int, int]:
    """REAL JPEG header parse, pure stdlib: after the SOI marker, walk
    the marker-segment stream — skipping variable-length segments
    (APPn/COM/DQT/…) by their 2-byte big-endian length fields and
    length-less standalone markers (TEM/RSTn) — until an SOFn frame
    header, and return ``(width, height)`` from its (lines,
    samples-per-line) fields (ITU-T T.81 §B.2.2). Truncated streams,
    marker desync, and SOF-less files raise."""
    import struct

    data = bytes(payload)
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI marker)")
    i, n = 2, len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            raise ValueError(f"JPEG marker desync at byte {i}")
        marker = data[i + 1]
        if marker == 0xD9:  # EOI before any frame header
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn: no length
            i += 2
            continue
        (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
        if seglen < 2 or i + 2 + seglen > n:
            raise ValueError("JPEG segment length out of range (truncated?)")
        if marker in _JPEG_SOF_MARKERS:
            if seglen < 7:
                raise ValueError("JPEG SOF segment too short")
            height, width = struct.unpack(">HH", data[i + 5 : i + 9])
            if not width or not height:
                raise ValueError("JPEG dimensions must be nonzero")
            return width, height
        i += 2 + seglen
    raise ValueError("JPEG has no SOF frame header")


def _decode(payload: bytes, media_type: str) -> dict:
    """Per-type decode dispatch — every named container format is a
    REAL decode: ``image/png`` / ``image/jpeg`` run the container
    parsers above (signature + CRC / marker scan — corrupt containers
    raise), ``image/gif`` LZW-decompresses every frame and
    ``audio/wav`` walks the RIFF chunks and decodes the PCM samples
    (operators/imagecodec.py, operators/audiocodec.py), each with
    ``feature_norm`` a deterministic function of DECODED values so a
    decode regression is observable through the oracle (q363).
    ``text/plain`` and ``image/fake`` keep deterministic formula
    branches (there is nothing to decode) for the mixed-dispatch
    oracle.

    Raises ``NotImplementedError`` for media types with no decoder,
    mirroring how a production decoder should fail loudly on
    unsupported codecs. Each type decodes with a DIFFERENT
    deterministic formula so per-type dispatch is observable
    end-to-end — an oracle over mixed-media input catches a decoder
    that ignores ``media_type``.
    """
    n = len(payload)
    if media_type == "text/plain":
        return {"width": (n % 640) + 1, "height": (n % 480) + 1, "feature_norm": float(n % 1000) / 1000.0}
    if media_type == "image/fake":
        return {"width": (n % 1280) + 1, "height": (n % 720) + 1, "feature_norm": float(n % 997) / 997.0}
    if media_type == "image/png":
        w, h = parse_png_header(payload)
        return {"width": w, "height": h, "feature_norm": float((w * h) % 997) / 997.0}
    if media_type == "image/jpeg":
        w, h = parse_jpeg_header(payload)
        return {"width": w, "height": h, "feature_norm": float((w * h) % 997) / 997.0}
    if media_type == "image/gif":
        # REAL full decode: LZW decompress every frame (imagecodec)
        from owl_etl_spark.operators.imagecodec import decode_gif_frames

        d = decode_gif_frames(payload)
        return {
            "width": d["width"],
            "height": d["height"],
            "feature_norm": float((d["width"] * d["height"] * d["n_frames"]) % 991)
            / 991.0,
        }
    if media_type == "audio/wav":
        # REAL full decode: RIFF chunk walk + PCM samples (audiocodec);
        # the norm folds in the decoded PEAK so a sample-level decode
        # regression (not just header fields) breaks the oracle
        import numpy as np

        from owl_etl_spark.operators.audiocodec import decode_wav

        d = decode_wav(payload)
        # int64 before abs: int16 abs(-32768) would overflow
        peak = int(np.abs(d["samples"].astype(np.int64)).max(initial=0))
        return {
            "width": d["n_frames"],
            "height": d["channels"],
            "feature_norm": float((d["n_frames"] + peak) % 983) / 983.0,
        }
    raise NotImplementedError(f"no decoder for {media_type}")


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + featurize payloads via mapInPandas (Arrow batches).

    One python worker per task; each yielded batch is columnar. The
    UDF touches only the columns it needs — keep payload last in
    upstream projections so column pruning can drop it afterwards.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode(p, m) for p, m in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "feature_norm": [f["feature_norm"] for f in feats],
                }
            )

    return df.mapInPandas(fn, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# container synthesis (pure Catalyst): REAL, spec-valid PNG/JPEG byte
# streams built JVM-side, so parser round-trip tests and oracle-gated
# queries can exercise the genuine header parse without any codec in
# the environment. All arguments are SQL expression STRINGS composed
# into one expression for F.expr — zero Python in the synthesis path.
# ---------------------------------------------------------------------------


def _be_expr(expr: str, nbytes: int) -> str:
    """SQL expr: *expr* (a non-negative integral) as ``nbytes``
    big-endian bytes — ``unhex(lpad(hex(x)))``, the ANSI-safe
    int-to-binary idiom (a direct integral→binary cast is rejected
    under ANSI mode)."""
    return f"unhex(lpad(hex({expr}), {2 * nbytes}, '0'))"


def _png_chunk_expr(ctype: str, data_expr: str) -> str:
    """SQL expr for one PNG chunk: length, 4-char type, data, and the
    spec's CRC-32 over type+data (Spark's ``crc32`` matches zlib's)."""
    t = f"cast('{ctype}' as binary)"
    return (
        f"concat({_be_expr(f'octet_length({data_expr})', 4)}, {t}, {data_expr}, "
        f"{_be_expr(f'crc32(concat({t}, {data_expr}))', 4)})"
    )


def png_container_expr(width_expr: str, height_expr: str, data_expr: str) -> str:
    """SQL expr building a spec-valid PNG container: signature, a
    13-byte IHDR (8-bit truecolor) carrying the given dimensions with
    a correct CRC, the data bytes as an ancillary ``tEXt`` chunk, and
    IEND. ``parse_png_header`` round-trips (width, height) from it —
    including the CRC verification. Total size = 57 + octet_length(data)."""
    ihdr_data = (
        f"concat({_be_expr(width_expr, 4)}, {_be_expr(height_expr, 4)}, X'0802000000')"
    )
    return (
        "concat(X'89504E470D0A1A0A', "
        + _png_chunk_expr("IHDR", ihdr_data)
        + ", "
        + _png_chunk_expr("tEXt", data_expr)
        + ", "
        + _png_chunk_expr("IEND", "X''")
        + ")"
    )


def jpeg_container_expr(width_expr: str, height_expr: str, comment_expr: str) -> str:
    """SQL expr building a spec-valid JPEG header stream: SOI, a JFIF
    APP0, the comment bytes as a COM segment (variable length — the
    segment the marker scanner must SKIP by its length field), a
    one-component SOF0 frame header carrying the dimensions, EOI.
    ``parse_jpeg_header`` round-trips (width, height). The comment
    must be ≤ 65533 bytes (the 16-bit segment-length bound — callers
    truncate). Total size = 39 + octet_length(comment)."""
    app0 = "concat(X'FFE00010', cast('JFIF' as binary), X'00010100000100010000')"
    com = f"concat(X'FFFE', {_be_expr(f'octet_length({comment_expr}) + 2', 2)}, {comment_expr})"
    sof0 = (
        f"concat(X'FFC0000B08', {_be_expr(height_expr, 2)}, "
        f"{_be_expr(width_expr, 2)}, X'01011100')"
    )
    return f"concat(X'FFD8', {app0}, {com}, {sof0}, X'FFD9')"


# ---------------------------------------------------------------------------
# perceptual near-dup over binary payloads (dHash-style fingerprint +
# banded-Hamming blocking)
# ---------------------------------------------------------------------------

#: fingerprint width — 60 bits so the value always fits a signed BIGINT
#: in every engine (the repo-wide md5_long convention)
PHASH_BITS = 60


def _phash_one(buf: bytes, bits: int) -> int:
    """dHash of one payload: split the byte stream into ``bits + 1``
    equal-ish blocks (boundaries at floor(j·n/(bits+1)) — the exact
    rule the SQL oracle replays), take each block's exact integer
    intensity (byte-value sum), and set bit j iff intensity_j >
    intensity_{j+1}. The gradient-sign construction is what makes the
    hash PERCEPTUAL: a localized edit perturbs a few block sums, so
    near-identical payloads land within a small Hamming distance,
    while the per-block comparison is invariant to global brightness/
    length shifts that move all sums together."""
    import numpy as np

    n = len(buf)
    if n == 0:
        return 0
    blocks = bits + 1
    a = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
    cs = np.concatenate(([0], np.cumsum(a)))
    bounds = (np.arange(blocks + 1, dtype=np.int64) * n) // blocks
    inten = cs[bounds[1:]] - cs[bounds[:-1]]
    bits_set = (inten[:-1] > inten[1:]).astype(np.uint64)
    return int((bits_set << np.arange(bits, dtype=np.uint64)).sum())


def perceptual_fingerprint(
    df: DataFrame,
) -> DataFrame:
    """(id, phash, n_bytes) perceptual fingerprints over a binary
    payload column via Arrow-batched ``mapInPandas`` — the content-
    level multimodal operator (a real deployment swaps the byte-sum
    "intensity" for decoded pixel intensities; the block/gradient/
    bit-pack plumbing is identical and is what's verified here).
    Intra-row and shuffle-free: fingerprints for a billion payloads
    cost one scan; only the downstream band join shuffles. Exact
    integer arithmetic end-to-end, so the DuckDB oracle replays the
    hash bit-for-bit from the payload hex (the q113 device)."""
    import numpy as np  # noqa: F401  (imported for the worker closure)

    out_schema = "doc_id bigint, phash bigint, n_bytes bigint"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [_phash_one(bytes(p), PHASH_BITS) for p in payloads],
                    "n_bytes": [len(bytes(p)) for p in payloads],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(fn, schema=out_schema)


def phash_band_rows(
    fps: DataFrame,
    bands: int = 4,
) -> DataFrame:
    """(id, band, sig) rows: the fingerprint split into ``bands``
    disjoint bit-slices — the LSH-shaped key that turns Hamming-ball
    search into equi-joins (Manku et al., "Detecting Near-Duplicates
    for Web Crawling"). Same row shape as the MinHash band store, so
    the banded join reuses the skew-guarded LSH pair machinery."""
    if PHASH_BITS % bands != 0:
        raise ValueError(f"bits={PHASH_BITS} not divisible by bands={bands}")
    width = PHASH_BITS // bands
    vals = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"j -> pmod(shiftright(phash, j * {width}), {1 << width}))"
    )
    return fps.select(F.col("doc_id"), F.posexplode(vals).alias("band", "sig"))


def phash_near_dup_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming) among perceptual
    fingerprints with Hamming distance ≤ ``max_hamming``, found by
    banded blocking — NEVER all-pairs. Pigeonhole completeness: with
    ``max_hamming < 4`` bands, two fingerprints within the Hamming
    bound differ in fewer bands than exist, so at least one band
    slice matches exactly and the equi-join cannot miss a true pair.
    Candidate generation is the skew-guarded LSH bucket expansion
    (``incremental_lsh_pairs`` — per-task pair fan-out bounded by
    1024² even if a degenerate fingerprint floods a bucket),
    then one exact ``bit_count(xor)`` filter. At 100 TB: one shuffle
    on (band, sig), candidates ~ corpus/2^(bits/bands) per band plus
    true near-dups, nothing quadratic."""
    from owl_etl_spark.operators.dedup import incremental_lsh_pairs

    if max_hamming >= 4:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for "
            "complete candidate generation (got 4)"
        )
    rows = phash_band_rows(fps, 4)
    cand = incremental_lsh_pairs(rows, None)
    fa = fps.select(F.col("doc_id").alias("id_a"), F.col("phash").alias("__fa"))
    fb = fps.select(F.col("doc_id").alias("id_b"), F.col("phash").alias("__fb"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", F.expr("bit_count(__fa ^ __fb)").cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
