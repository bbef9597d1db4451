"""The FIC fact-sheet transform pipeline — the reference's core
semantics (reference: src/etl/transform.py:19-68, stage list at 39-61)
re-expressed as one declarative plan.

Stage order matches ``transform_fic_data``:
1. percentage normalization (P5) on every participation array + P6 on
   return/volatility horizons
2. rating-agency fuzzy normalization (J2)
3. robust date parsing (P8) on the 3 date fields
4. lenient numeric parsing (P7) on caracteristicas numerics
5. fund-type keyword classification (P2)
6. URL enrichment via fuzzy lookup (J1)
7. monetary descale (P4)
8. structure repair (P10)

Unlike the reference (which re-reads the lookup file per record —
src/etl/transform.py:205-216), the lookup is folded once into a single
broadcast row of candidates and cross-joined onto every document; each
document then picks its URL with a per-row expression. Everything else
is per-row expressions in two projections, so the whole pipeline is one
broadcast + 0 shuffles, one stage.

The stages' expressions are SQL text built once per process
(``_stage_sql``) and applied as one ``withColumns`` and one ``select``:
building the plan costs a few hundred py4j round trips and three
analyses, not one analysis per stage.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.dates import fecha_normalizada_sql, parse_fecha_normalizada_sql
from owl_etl_spark.functions.numeric import (
    convert_if_needed_sql,
    descale_monetary_sql,
    parse_numero_sql,
    parsed_participation_sql,
    smart_percent_array_sql,
)
from owl_etl_spark.functions.text import FIC_CLASS_KEYWORDS, _sql, classify_keywords_sql, sql_str
from owl_etl_spark.operators.quality import repair_structure
from owl_etl_spark.schemas import COMPOSICION_CATEGORIES

#: Known rating agencies for J2 normalization — the reference's 13
#: canonical (uppercase) names (src/etl/transform.py:12-16). Note the
#: reference iterates a *set* for its substring fallback, so its pick
#: among multiple containing candidates is interpreter-hash-order
#: dependent; this engine breaks such ties deterministically by
#: similarity, then list order.
RATING_AGENCIES = [
    "FITCH RATINGS",
    "FITCH",
    "STANDARD & POOR'S",
    "S&P",
    "MOODY'S",
    "DBRS",
    "BRC",
    "BRC INVESTOR SERVICES",
    "VALORA",
    "VALORAMERICA",
    "CEC",
    "CEPAL",
    "ICFC",
]

#: Bank-name alias map (filename token → fics.json key), the
#: reference's mapping verbatim as data facts
#: (src/etl/transform.py:277-297; probe is lowercased with
#: space/dash/underscore stripped before lookup).
BANK_ALIASES = {
    "bancodebogota": "bancoDeBogota",
    "bancodeoccidentefiduoccidente": "bancoDeOccidenteFiduoccidente",
    "credicorpcapital": "credicorpCapital",
    "bancolombia": "bancolombia",
    "bbva": "bbva",
    "davivienda": "davivienda",
    "bancoagrario": "bancoAgrario",
    "bancoavvillas": "bancoAvVillas",
    "bancocajasocial": "bancoCajaSocial",
    "bancoomeva": "bancoomeva",
    "bancoopular": "bancoPopular",
    "bancofinandina": "bancolombia",
    "bancopichincha": "bancoPichincha",
    "bancoreservas": "bancoDeBogota",
    "bancoinsa": "insa",
    "cititrust": "citiTrust",
    "gnbsudameris": "gnbSudameris",
    "scotiabankcolpatria": "scotiabankColpatria",
}

_HORIZONS = [
    "ultimo_mes",
    "ultimos_6_meses",
    "anio_corrido",
    "ultimo_anio",
    "ultimos_2_anios",
    "ultimos_3_anios",
]


#: Stage 3's date fields, each normalized into a temporary column.
_DATES = {
    "__fecha_corte": "fic.fecha_corte",
    "__fecha_inicio": "caracteristicas.fecha_inicio_operaciones",
    "__fecha_calif": "calificacion.fecha_ultima_calificacion",
}


def _percentages_sql() -> tuple[dict[str, str], dict[str, str]]:
    """Stage 1 — lenient percent parse (string participacion survives
    the typed read — see schemas._part_array), then P5 on every
    participation array, P6 on horizons.

    Returns (temporaries, columns): each parsed participation array is
    a temporary, because the P5 format vote reads it about ten times.
    """
    arrays = {
        "plazo_duracion": ("plazo_duracion", "plazo"),
        "principales_inversiones": ("principales_inversiones", "emisor"),
        **{
            name: (f"composicion_portafolio.{name}", key)
            for name, key in COMPOSICION_CATEGORIES.items()
        },
    }
    parsed = {
        f"__pct_{name}": parsed_participation_sql(path, key) for name, (path, key) in arrays.items()
    }

    def normalized(name: str) -> str:
        return smart_percent_array_sql(f"__pct_{name}", arrays[name][1])

    comp_fields = ", ".join(f"'{name}', {normalized(name)}" for name in COMPOSICION_CATEGORIES)

    def horizon_struct(side: str) -> str:
        fields = ", ".join(
            f"'{h}', " + convert_if_needed_sql(f"rv.{side}.{h}") for h in _HORIZONS
        )
        return f"named_struct({fields})"

    return parsed, {
        "plazo_duracion": normalized("plazo_duracion"),
        "principales_inversiones": normalized("principales_inversiones"),
        "composicion_portafolio": f"named_struct({comp_fields})",
        "rentabilidad_volatilidad": f"""transform(rentabilidad_volatilidad, rv -> named_struct(
              'tipo_de_participacion', rv.tipo_de_participacion,
              'rentabilidad_historica_ea', {horizon_struct('rentabilidad_historica_ea')},
              'volatilidad_historica', {horizon_struct('volatilidad_historica')}))""",
    }


def _agency_match_sql(probe_sql: str, agencies: tuple[str, ...], cutoff: float = 0.8) -> str:
    """Best-matching agency (as the caller spelled it) or null (J2
    semantics: similarity ≥ cutoff, else substring containment —
    reference src/etl/transform.py:679-733).

    One higher-order expression: ``transform`` scores every candidate
    of a literal array, ``array_max`` takes the best score and
    ``array_position`` picks the first candidate that reaches it — the
    list-order tie-break. One ``transform`` so the plan does not grow
    per candidate; size guarded by tests/test_plan_quality_fic.py.
    Scorer is levenshtein-ratio (the built-in approximation; difflib
    parity available via functions.similarity.difflib_ratio as an
    opt-in UDF scorer).

    Containment ties: the reference iterates a SET here (its pick is
    interpreter-hash-order dependent); ties break by the match appearing
    earliest in the probe, then the tighter (shorter) canonical — which
    reproduces the checked-in goldens.
    """
    probe = f"upper(trim({probe_sql}))"
    candidates = "array(" + ", ".join(
        f"named_struct('name', {sql_str(a)}, 'key', {sql_str(a.upper())})" for a in agencies
    ) + ")"
    sim = f"(1.0D - levenshtein({probe}, c.key) / greatest(length({probe}), length(c.key)))"
    contained = f"(contains({probe}, c.key) OR contains(c.key, {probe}))"
    contained_score = (
        f"(0.801D + 0.001D / (1 + greatest(position(c.key, {probe}) - 1, 0))"
        " + 0.0001D / length(c.name))"
    )
    scores = (
        f"transform({candidates}, c -> CASE WHEN {probe} IS NULL OR {probe} = '' THEN -1.0D "
        f"ELSE CASE WHEN {contained} AND {sim} < {cutoff}D THEN {contained_score} "
        f"ELSE {sim} END END)"
    )
    best = f"array_max({scores})"
    return (
        f"CASE WHEN {best} >= {cutoff}D THEN "
        f"element_at({candidates}, CAST(array_position({scores}, {best}) AS INT)).name END"
    )


def _agency_match(col: Column, agencies: list[str], cutoff: float = 0.8) -> Column:
    """Column form of :func:`_agency_match_sql`."""
    return F.expr(_agency_match_sql(_sql(col), tuple(agencies), cutoff))


_ALIAS_SEPARATORS = r"[\s_\-]+"
_SPACES = r"[\s_]+"


def _alias_sql(col_sql: str) -> str:
    """Alias lookup on the reference's normalized key: lowercase with
    spaces/dashes/underscores stripped (src/etl/transform.py:299-302) —
    one literal-map lookup, the name itself when the key is unknown."""
    amap = "map(" + ", ".join(f"{sql_str(k)}, {sql_str(v)}" for k, v in BANK_ALIASES.items()) + ")"
    norm = f"regexp_replace(lower({col_sql}), {sql_str(_ALIAS_SEPARATORS)}, '')"
    return f"coalesce(element_at({amap}, {norm}), {col_sql})"


def _bank_sql(col_sql: str) -> str:
    return f"lower(regexp_replace({_alias_sql(col_sql)}, {sql_str(_SPACES)}, ''))"


def _fund_sql(col_sql: str) -> str:
    return f"lower(regexp_replace({col_sql}, {sql_str(_SPACES)}, ' '))"


def _candidates_sql() -> str:
    """The whole (banco, fic, url) lookup as one array of normalized
    candidates — one row, broadcast to every document."""
    return (
        f"collect_list(named_struct('bank', {_bank_sql('banco')}, "
        f"'fund', {_fund_sql('fic')}, 'url', url)) AS __cands"
    )


#: Stage 6 — J1, per document over the broadcast candidates. Bank by
#: alias-map → exact-normalized → containment either way; fund within
#: the bank by normalized exact (2.0) → levenshtein ratio, kept at
#: ≥ 0.7 (a null fund scores null and is dropped) (reference
#: transform.py:171-269). The best is the smallest (-similarity, fund,
#: url): similarity desc, then fund asc, then url asc — a total order,
#: so the pick never depends on lookup row order.
_URL_PICK_SQL = """array_min(filter(transform(
      filter(__cands, c -> c.bank = __bank OR contains(__bank, c.bank) OR contains(c.bank, __bank)),
      c -> named_struct(
        'rank', -CASE WHEN __fund = c.fund THEN 2.0D
                      ELSE 1.0D - levenshtein(__fund, c.fund)
                                  / greatest(length(__fund), length(c.fund)) END,
        'fund', c.fund,
        'url', c.url)),
    c -> c.rank <= -0.7D)).url"""


def _parse_keep_sql(norm_col: str, path: str) -> str:
    """Stage 3 — P8 on one date field; ISO-string output keeps the
    reference's store-as-string convention (lexicographic compare stays
    valid). Unparseable values keep the ORIGINAL string (reference:
    src/etl/transform.py:955-963 warns and leaves the field untouched);
    downstream validity gates treat non-ISO as null."""
    return f"coalesce(date_format({parse_fecha_normalizada_sql(norm_col)}, 'yyyy-MM-dd'), {path})"


@functools.lru_cache(maxsize=None)
def _stage_sql(
    with_urls: bool,
) -> tuple[dict[str, str], dict[str, str], dict[str, list[tuple[str, str]]]]:
    """SQL text of the transform's two projections, built once per process.

    Returns (temporaries, columns, fields). The first projection adds the
    temporaries that later stages read more than once: the parsed
    participation arrays, the normalized date strings, the agency match,
    the parsed ``valor`` and the normalized bank and fund. The second
    replaces whole columns (stage 1) and writes struct fields, as
    (field, SQL) per struct column applied in order.

    Each temporary is read several times by the second projection, so
    Catalyst keeps the two apart (CollapseProject does not inline a
    costly expression it would copy): it runs once per row and appears
    once in the plan.
    """
    ent = "calificacion.entidad_calificadora"
    parsed, columns = _percentages_sql()
    temps = {
        **parsed,
        **{tmp: fecha_normalizada_sql(path) for tmp, path in _DATES.items()},
        "__agency": _agency_match_sql(ent, tuple(RATING_AGENCIES)),
        "__valor": parse_numero_sql("caracteristicas.valor"),
    }
    if with_urls:
        temps["__bank"] = _bank_sql("banco")
        temps["__fund"] = _fund_sql("fondo")
    # stage 2's flag stays NULL when the field is absent/empty — the
    # reference only writes it when an entidad value exists
    # (transform.py:691-703)
    flag = (
        f"CASE WHEN {ent} IS NULL OR trim({ent}) = '' THEN CAST(NULL AS BOOLEAN) "
        "ELSE __agency IS NOT NULL END"
    )
    fields = {
        "fic": [
            ("fecha_corte", _parse_keep_sql("__fecha_corte", "fic.fecha_corte")),
            ("tipo", classify_keywords_sql("fic.politica_de_inversion", FIC_CLASS_KEYWORDS)),
            ("url", _URL_PICK_SQL if with_urls else "CAST(NULL AS STRING)"),
        ],
        "caracteristicas": [
            ("fecha_inicio_operaciones",
             _parse_keep_sql("__fecha_inicio", "caracteristicas.fecha_inicio_operaciones")),
            ("no_unidades_en_circulacion",
             parse_numero_sql("caracteristicas.no_unidades_en_circulacion")),
            # stage 7 — P4 on the parsed valor, a temporary, so the
            # descale's repeated reads do not copy the parse
            ("valor", descale_monetary_sql("__valor", 6)),
        ],
        "calificacion": [
            ("entidad_calificadora", f"coalesce(__agency, {ent})"),
            ("entidad_calificadora_normalizada", flag),
            ("fecha_ultima_calificacion",
             _parse_keep_sql("__fecha_calif", "calificacion.fecha_ultima_calificacion")),
        ],
    }
    return temps, columns, fields


def transform_fic_documents(
    df: DataFrame,
    url_lookup: DataFrame | None = None,
) -> DataFrame:
    """Full 8-stage FIC transform (P1 orchestrator).

    ``df`` is a FIC_RAW_SCHEMA DataFrame with file-metadata columns
    (``banco``, ``fondo``, ``_filename`` — see sources.readers); returns
    the FIC_TRANSFORMED shape, one row per input row.
    """
    temps, columns, fields = _stage_sql(url_lookup is not None)
    names = df.columns
    if url_lookup is not None:
        cands = url_lookup.coalesce(1).selectExpr(_candidates_sql())
        df = df.crossJoin(F.broadcast(cands))
    staged = df.withColumns({name: F.expr(sql) for name, sql in temps.items()})

    def stage(name: str) -> Column | str:
        if name in columns:
            return F.expr(columns[name]).alias(name)
        if name not in fields:
            return name
        out = F.col(name)
        for field, sql in fields[name]:
            out = out.withField(field, F.expr(sql))
        return out.alias(name)

    out = staged.select(*[stage(c) for c in names])
    return repair_structure(out)
