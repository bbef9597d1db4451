"""Seeded corpus of FIC fund fact-sheet PDFs, one folder per month.

Each month folder ``<anio>_<mes>/`` holds one single-page PDF per fund,
``<banco>_<fondo>.pdf``, built the way ``tests/fixtures/gen_fic_pdf.py``
builds the checked-in fixture: a FlateDecode content stream with one
text line per ``Tj``. The corpus varies the shapes the transform has
to handle (FIXTURES.md section 1):

* participation percentages as fractions, scaled x100, or strings
  such as ``"66,96%"``;
* cut-off dates as ``dd/mm/yyyy``, ``jul-25`` or ISO;
* rating-agency names clean, with typos, or unknown;
* fund values scaled by powers of 1000;
* about 5% of documents carry a cut-off date outside their folder's
  month (the skip-list path);
* a fund pool larger than one month, so funds recur across months, and
  about 10% of a month's funds re-issue a corrected sheet
  (``<banco>_<fondo>-v2.pdf``, a later cut-off in the same month), so
  the latest-per-fund gold refresh does real recency work even over a
  single month.

Nothing here steers around extraction defects: a PDF whose compressed
stream happens to end in CR or LF is written like any other.
"""

from __future__ import annotations

import os
import random
import zlib
from dataclasses import dataclass

BANKS = [
    "bancolombia", "davivienda", "bbva", "bancodebogota", "credicorpcapital",
    "bancopichincha", "gnbsudameris", "cititrust", "bancoavvillas", "bancocajasocial",
]
ADJECTIVES = ["alto", "bajo", "verde", "global", "plus", "renta", "activo", "seguro"]
NOUNS = ["ahorro", "futuro", "capital", "liquidez", "horizonte", "balance", "valor", "andino"]
POLICIES = [
    "inversion en renta fija, bonos y cdt de deuda publica",
    "acciones y renta variable en mercado accionario con dividendos",
    "portafolio diversificado balanceado de renta fija y variable",
    "inversion alternativa en inmobiliario, commodities y derivados",
    "politica general de inversion sin clase declarada",
]
AGENCIES = [
    "Fitch Ratings Colombia", "BRC Investors Servic", "BRC Investor Services",
    "Value and Risk Rating", "Standard & Poor's", "Moodys", "Agencia Desconocida XYZ",
]
PLAZOS = ["0-30", "30-180", "180-365", "1-3", "3-5"]
ACTIVOS = ["CDT", "Bonos", "TES", "Acciones", "Liquidez"]
#: share of sheets stating a cut-off date outside their folder's month
MISMATCH_RATE = 0.05
#: share of a month's funds that re-issue a corrected sheet
REISSUE_RATE = 0.10
START_YEAR = 2025
MESES = ["ene", "feb", "mar", "abr", "may", "jun", "jul", "ago", "sep", "oct", "nov", "dic"]


@dataclass(frozen=True)
class Doc:
    """One generated fact sheet and what a correct load must do with it."""

    month: str          # folder label, "<anio>_<mes>"
    filename: str       # "<banco>_<fondo>.pdf"
    banco: str
    fondo: str
    nombre_fic: str
    fecha_corte_iso: str  # the date the sheet states, as ISO
    consistent: bool    # stated date lies in the folder's month


@dataclass
class Corpus:
    root: str
    months: list[str]
    docs: list[Doc]
    lookup: list[tuple[str, str, str]]  # (banco, fic, url)

    def month_docs(self, month: str) -> list[Doc]:
        return [d for d in self.docs if d.month == month]


def _esc(s: str) -> bytes:
    b = s.encode("cp1252")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def make_pdf(lines: list[str]) -> bytes:
    """Single-page PDF with one FlateDecode content stream, one line per Tj."""
    content = b"BT /F1 12 Tf 50 750 Td 14 TL " + b" ".join(
        b"(" + _esc(ln) + b") Tj T*" for ln in lines
    ) + b" ET"
    comp = zlib.compress(content)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(comp)).encode() + b" /Filter /FlateDecode >>\n"
        b"stream\n" + comp + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _pct(fraction: float, style: str) -> str:
    if style == "x100":
        return f"{fraction * 100:.2f}"
    if style == "str":
        return f"{fraction * 100:.2f}".replace(".", ",") + "%"
    return f"{fraction:.4f}"


def _shares(rng: random.Random, n: int) -> list[float]:
    """n fractions with 4 decimals that sum to exactly 1."""
    cuts = sorted(rng.sample(range(1, 10000), n - 1))
    edges = [0, *cuts, 10000]
    return [(b - a) / 10000 for a, b in zip(edges, edges[1:])]


def _date_text(rng: random.Random, y: int, m: int, d: int,
               styles: int = 3) -> tuple[str, str]:
    """(text as printed, ISO the transform must produce)."""
    style = rng.randrange(styles)
    if style == 0:
        return f"{d:02d}/{m:02d}/{y}", f"{y}-{m:02d}-{d:02d}"
    if style == 1:
        return f"{MESES[m - 1]}-{y % 100:02d}", f"{y}-{m:02d}-01"
    return f"{y}-{m:02d}-{d:02d}", f"{y}-{m:02d}-{d:02d}"


def _sheet(rng: random.Random, nombre: str, fecha_text: str) -> list[str]:
    style = rng.choice(["frac", "x100", "str"])
    lines = [
        "Ficha Tecnica FIC",
        f"Nombre: {nombre}",
        f"Gestor: Fiduciaria {rng.choice(NOUNS).title()}",
        f"Custodio: Custodio {rng.choice(ADJECTIVES).title()}",
        f"Fecha de corte: {fecha_text}",
        f"Politica: {rng.choice(POLICIES)}",
    ]
    plazos = rng.sample(PLAZOS, rng.randint(2, 4))
    for plazo, share in zip(plazos, _shares(rng, len(plazos))):
        lines.append(f"Plazo {plazo}: {_pct(share, style)}")
    activos = rng.sample(ACTIVOS, rng.randint(2, 4))
    for activo, share in zip(activos, _shares(rng, len(activos))):
        lines.append(f"Activo {activo}: {_pct(share, style)}")
    valor = rng.randint(1_000, 999_999) * 1000 ** rng.randint(0, 3) + rng.randint(0, 99)
    lines += [
        f"Valor del fondo: {valor}",
        f"Unidades: {rng.randint(1_000, 9_999_999)}",
        f"Calificacion: {rng.choice(['AAA', 'AA+', 'S1/AAAf(col)', 'F-AAA'])}",
        f"Entidad calificadora: {rng.choice(AGENCIES)}",
    ]
    return lines


def _write_doc(corpus: Corpus, folder: str, doc: Doc, lines: list[str]) -> None:
    with open(os.path.join(folder, doc.filename), "wb") as fh:
        fh.write(make_pdf(lines))
    corpus.docs.append(doc)


def generate(root: str, seed: int, n_months: int, docs_per_month: int) -> Corpus:
    """Write ``n_months`` month folders of ``docs_per_month`` PDFs under ``root``."""
    rng = random.Random(seed)
    pool = max(docs_per_month, docs_per_month * 3 // 2)
    funds = []
    for i in range(pool):
        banco = BANKS[rng.randrange(len(BANKS))]
        fondo = f"{rng.choice(ADJECTIVES)}-{rng.choice(NOUNS)}-{i:04d}"
        nombre = f"Fondo {fondo.replace('-', ' ').title()}"
        funds.append((banco, fondo, nombre))
    lookup = [(b, f, f"https://fics.example/{b}/{f}") for b, f, _ in funds]
    corpus = Corpus(root=root, months=[], docs=[], lookup=lookup)
    for k in range(n_months):
        y, m = START_YEAR + k // 12, k % 12 + 1
        month = f"{y}_{m:02d}"
        corpus.months.append(month)
        folder = os.path.join(root, month)
        os.makedirs(folder, exist_ok=True)
        for banco, fondo, nombre in rng.sample(funds, docs_per_month):
            consistent = rng.random() >= MISMATCH_RATE
            # a planted mismatch states a date two months before its folder
            dy, dm = (y, m) if consistent else ((y, m - 2) if m > 2 else (y - 1, m + 10))
            fecha_text, iso = _date_text(rng, dy, dm, rng.randint(1, 27))
            _write_doc(corpus, folder,
                       Doc(month, f"{banco}_{fondo}.pdf", banco, fondo, nombre, iso, consistent),
                       _sheet(rng, nombre, fecha_text))
            if rng.random() < REISSUE_RATE:
                # day 28 in a day-precise style: later than any first issue
                fecha_text, iso = _date_text(rng, y, m, 28, styles=1)
                _write_doc(corpus, folder,
                           Doc(month, f"{banco}_{fondo}-v2.pdf", banco, fondo, nombre, iso, True),
                           _sheet(rng, nombre, fecha_text))
    return corpus
