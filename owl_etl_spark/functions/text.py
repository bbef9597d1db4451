"""Text-analysis expressions: tokenization, n-grams, language ID,
quality scoring, fingerprinting, keyword classification.

Generalizes the reference's keyword-classifier (P2,
src/etl/transform.py:109-168) and normalization helpers (§2.9) into
the text operators a large-scale training-data pipeline needs. All
pure Column expressions (JVM-side); nothing here shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, strip — the canonical form used
    by dedup/fingerprint operators."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank)."""
    t = F.split(F.trim(col), r"\s+")
    return F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(t)


def shingle_chain_sql(toks: str, n: int) -> str:
    """SQL for the array of space-joined ``n``-token windows of the
    token-array expression ``toks`` (which must have ≥ ``n`` elements
    — callers guard the short case).

    Round 12 (guide §4.2's interpreted-lambda trap): the old form
    ``transform(sequence(1, m), i -> array_join(slice(toks, i, n)))``
    re-evaluates everything inside the lambda body — including
    ``toks`` and a per-element slice copy — once per window position
    on the INTERPRETED higher-order path (no codegen, no
    subexpression reuse; measured 7.5× on q345's sibling builder).
    This form zips ``n`` aligned slices instead: the token array is
    referenced only OUTSIDE the lambdas, and each lambda is a bare
    two-argument concat. Output strings are byte-identical."""
    if n < 1:
        raise ValueError(f"shingle_chain_sql: n must be >= 1, got {n}")
    m = f"(size({toks}) - {n} + 1)"
    acc = f"slice({toks}, 1, {m})"
    for j in range(2, n + 1):
        acc = (
            f"zip_with({acc}, slice({toks}, {j}, {m}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return acc


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles: array of space-joined n-token windows.

    Built with zipped slices over the token array (see
    ``shingle_chain_sql``) — intra-row, no explode, no shuffle.
    Documents shorter than ``n`` tokens yield a single shingle of the
    whole text.
    """
    toks = f"split(trim({_sql(col)}), '\\\\s+')"
    return F.expr(
        f"""CASE
              WHEN size({toks}) < {n} THEN array(array_join({toks}, ' '))
              ELSE {shingle_chain_sql(toks, n)}
            END"""
    )


def _sql(col: Column) -> str:
    # Column → SQL text for embedding in expression text. A Column's own
    # rendering is kept when it parses (it spells F.expr text verbatim,
    # lambdas included); operators built in Python render as e.g.
    # "*(a, 2.5)", which does not, and take Catalyst's rendering instead
    # ("`*`(a, 2.5D)", which also keeps the literal a double).
    from pyspark.errors import ParseException
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.column import Column as ClassicColumn

    if not isinstance(col, ClassicColumn):
        raise TypeError("expected a classic Column")
    text = col._jc.toString()
    jspark = SparkSession.active()._jsparkSession
    try:
        jspark.sessionState().sqlParser().parseExpression(text)
    except ParseException:
        return jspark.expression(col._jc).sql()
    return text


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal (quotes and backslashes
    escaped), for splicing into expression text."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def classify_keywords_sql(text_sql: str, class_keywords: dict[str, list[str]], default: str = "Desconocido") -> str:
    """SQL text of :func:`classify_keywords` over the expression ``text_sql``."""
    if not class_keywords:
        return sql_str(default)
    n = len(class_keywords)
    m = max(n, 2)
    low = f"lower({text_sql})"
    codes = []
    for i, kws in enumerate(class_keywords.values()):
        hits = " + ".join(
            f"CASE WHEN contains({low}, {sql_str(kw.lower())}) THEN 1 ELSE 0 END" for kw in kws
        )
        codes.append(f"(({hits or '0'}) * {m} - {i + 1})")
    best = f"greatest({', '.join(codes)})" if n > 1 else codes[0]
    # slot 1: no keyword matched; slot m + 1 - i: class i
    slots = [default] * (m - n + 1) + list(reversed(class_keywords))
    return (
        f"coalesce(element_at(array({', '.join(map(sql_str, slots))}), {best} % {m} + 2), "
        f"{sql_str(default)})"
    )


def classify_keywords(col: Column, class_keywords: dict[str, list[str]], default: str = "Desconocido") -> Column:
    """Keyword-count argmax classifier (P2 generalized).

    A class scores one per keyword contained in the lowercased text
    (the reference's per-class score, src/etl/transform.py:144-156).
    The highest score wins; ties go to the first-declared class
    (Python's ``max`` over dict items); no match, or a null text, gives
    ``default``.

    Each score is built once and the argmax is one integer ``greatest``:
    class ``i`` of ``n`` encodes as ``score * m - (i + 1)`` with
    ``m = max(n, 2)``, so a higher score always wins, a tie goes to the
    lower index, and an all-zero row maximizes at ``-1``. ``code % m``
    then indexes a literal array of class names (``-1 % m = -1`` lands
    on ``default``). No higher-order lambda: those run interpreted.
    ``col`` is spliced as SQL text (see ``_sql``).
    """
    return F.expr(classify_keywords_sql(_sql(col), class_keywords, default))


#: The reference's four keyword classes, verbatim facts from
#: src/etl/transform.py:120-142 (substring containment over the
#: lowercased investment policy; first-declared class wins ties).
FIC_CLASS_KEYWORDS = {
    "Renta Fija": [
        "renta fija", "bonos", "cdt", "certificado de depósito", "tes",
        "títulos de deuda", "deuda pública", "tasa fija", "fixed income",
        "instrumentos de deuda", "papeles comerciales", "obligaciones",
    ],
    "Renta Variable": [
        "renta variable", "acciones", "equity", "bolsa de valores",
        "mercado accionario", "stocks", "índices accionarios",
        "participaciones", "capitalización bursátil",
    ],
    "Mixta": [
        "mixta", "balanced", "balanceado", "combinado",
        "renta fija y variable", "fija y variable", "diversificado",
        "multiactivo", "multi-activo",
    ],
    "Alternativa": [
        "alternativa", "alternative", "hedge fund", "fondos de cobertura",
        "private equity", "capital privado", "inmobiliario", "real estate",
        "commodities", "materias primas", "infraestructura", "derivados",
        "divisas", "forex", "opciones", "futuros",
    ],
}


def lang_stopword_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (language-ID heuristic).

    A tiny n-gram/stopword heuristic: count occurrences of
    high-frequency function words per language in the lowercased,
    space-padded text. Deterministic and SQL-expressible — the scale
    path for a real pipeline would swap in a trained model via a
    Pandas UDF with identical signature.
    """
    probes = {
        "en": [" the ", " and ", " of ", " is "],
        "es": [" el ", " la ", " de ", " que "],
        "de": [" der ", " die ", " und ", " ist "],
        "fr": [" le ", " la ", " et ", " est "],
        "zh": ["的", "是", "了"],
    }
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    out = {}
    for lang, words in probes.items():
        score = F.lit(0)
        for w in words:
            # occurrence count = (len - len(remove(w))) / len(w)
            score = score + (
                (F.length(padded) - F.length(F.replace(padded, F.lit(w), F.lit("")))) / len(w)
            ).cast("int")
        out[lang] = score
    return out


def lang_id(col: Column) -> Column:
    """Argmax over lang_stopword_scores; 'und' when nothing matches."""
    scores = lang_stopword_scores(col)
    best = F.greatest(*scores.values())
    expr = None
    for lang in scores:
        cond = scores[lang] == best
        expr = F.when((best > 0) & cond, lang) if expr is None else expr.when((best > 0) & cond, lang)
    return expr.otherwise(F.lit("und"))


def quality_features(col: Column) -> Column:
    """Document quality features as a struct:
    n_chars, n_tokens, avg_token_len, distinct_token_ratio,
    punct_ratio, digit_ratio — the standard cheap pre-filters of a
    training-data pipeline. All rounded to 6 dp for stable comparison.
    """
    s = _sql(col)
    toks = f"split(trim({s}), '\\\\s+')"
    return F.expr(
        f"""named_struct(
          'n_chars', length({s}),
          'n_tokens', size({toks}),
          'avg_token_len', round(length(regexp_replace({s}, '\\\\s+', '')) / size({toks}), 6),
          'distinct_token_ratio', round(size(array_distinct({toks})) / size({toks}), 6),
          'punct_ratio', round((length({s}) - length(regexp_replace({s}, '[.,;:!?]', ''))) / length({s}), 6),
          'digit_ratio', round((length({s}) - length(regexp_replace({s}, '[0-9]', ''))) / length({s}), 6)
        )"""
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 (not xxhash64) so independent engines agree on the value —
    this is the key for exact dedup clusters.
    """
    return F.md5(normalize_text(col))


#: Redaction patterns for common PII-ish spans (training-data hygiene).
#: Engine-portable regex subset (no lookbehind — works in Java regex
#: and RE2 alike).
REDACTION_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def redact(col: Column, patterns: dict[str, str] | None = None) -> Column:
    """Replace PII-ish spans with a token — the standard scrubbing pass
    before corpus publication. Chained regexp_replace (JVM-side)."""
    out = col
    for pat in (patterns or REDACTION_PATTERNS).values():
        out = F.regexp_replace(out, pat, "[REDACTED]")
    return out


def chunk_tokens(tokens_col: Column, size: int = 50) -> Column:
    """Split a token array into overlapping fixed-size windows
    (``array<string>`` of space-joined chunks) — the standard
    pre-tokenization pass that turns long documents into training-
    window-sized pieces. Stride = ``size - 10`` (a 10-token overlap); the last chunk
    may be short; a doc shorter than ``size`` yields one chunk.
    Intra-row higher-order functions — zero shuffle at any corpus
    size; pair with ``posexplode`` for (doc, chunk_idx, chunk) rows.
    """
    if size <= 10:
        raise ValueError("size must exceed the 10-token overlap")
    stride = size - 10
    n = F.size(tokens_col)
    nchunks = F.when(n <= size, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(size)).cast("double") / stride).cast("int")
    )
    idx = F.sequence(F.lit(0), nchunks - 1)
    return F.transform(
        idx, lambda i: F.array_join(F.slice(tokens_col, i * stride + 1, size), " ")
    )
