"""The stdlib PDF extractor on FlateDecode streams whose compressed
bytes end in an end-of-line byte.

A compressed stream is followed by an EOL and ``endstream``; the
extractor must not strip a CR or LF that belongs to the compressed
bytes themselves (the last byte of zlib's Adler-32 checksum can be
either), or decompression fails and the sheet is quarantined.
"""

from __future__ import annotations

import itertools

import pytest

from owl_etl_spark.sources.extract import pdf_text_extractor
from tests.fixtures.gen_fic_pdf import LINES, make_pdf


def _sheet_whose_stream_ends_in(last: int) -> tuple[list[str], bytes]:
    """The fixture's lines plus a numbered line chosen so the sheet's
    compressed content stream ends in the byte ``last``."""
    for n in itertools.count():
        lines = LINES + [f"Pagina {n}"]
        pdf = make_pdf(lines)
        stream = pdf[pdf.index(b"stream\n") + len(b"stream\n"):pdf.index(b"\nendstream")]
        if stream[-1] == last:
            return lines, pdf


@pytest.mark.parametrize("last", [0x0A, 0x0D], ids=["lf", "cr"])
def test_flate_stream_ending_in_eol_byte_extracts(last):
    lines, pdf = _sheet_whose_stream_ends_in(last)
    assert pdf_text_extractor(pdf).splitlines() == lines

