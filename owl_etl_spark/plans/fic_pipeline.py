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
6. URL enrichment via fuzzy lookup join (J1)
7. monetary descale (P4)
8. structure repair (P10)

Unlike the reference (which re-reads the lookup file per record —
src/etl/transform.py:205-216), the URL join is a broadcast join done
once for the whole corpus; everything else is per-row expressions in a
single fused projection — the entire pipeline is 1 broadcast join +
0 shuffles.

The agency match is one higher-order expression, so the plan does not
grow per candidate agency (see ``_agency_match``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.dates import parse_fecha_robusta_iso
from owl_etl_spark.functions.numeric import (
    convert_if_needed_sql,
    descale_monetary,
    parse_numero,
    parsed_participation_sql,
    smart_percent_array,
    smart_percent_array_sql,
)
from owl_etl_spark.functions.text import FIC_CLASS_KEYWORDS, classify_keywords
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


def _normalize_percentages(df: DataFrame) -> DataFrame:
    """Stage 1 — lenient percent parse (string participacion survives
    the typed read — see schemas._part_array), then P5 on every
    participation array, P6 on horizons."""
    out = df.withColumn(
        "plazo_duracion",
        smart_percent_array(parsed_participation_sql("plazo_duracion", "plazo"), "plazo"),
    ).withColumn(
        "principales_inversiones",
        smart_percent_array(
            parsed_participation_sql("principales_inversiones", "emisor"), "emisor"
        ),
    )
    comp_fields = ", ".join(
        f"'{name}', "
        + smart_percent_array_sql(
            parsed_participation_sql(f"composicion_portafolio.{name}", key), key
        )
        for name, key in COMPOSICION_CATEGORIES.items()
    )
    out = out.withColumn(
        "composicion_portafolio",
        F.expr(f"named_struct({comp_fields})"),
    )

    def horizon_struct(side: str) -> str:
        fields = ", ".join(
            f"'{h}', " + convert_if_needed_sql(f"rv.{side}.{h}") for h in _HORIZONS
        )
        return f"named_struct({fields})"

    out = out.withColumn(
        "rentabilidad_volatilidad",
        F.expr(
            f"""transform(rentabilidad_volatilidad, rv -> named_struct(
                  'tipo_de_participacion', rv.tipo_de_participacion,
                  'rentabilidad_historica_ea', {horizon_struct('rentabilidad_historica_ea')},
                  'volatilidad_historica', {horizon_struct('volatilidad_historica')}))"""
        ),
    )
    return out


def _agency_match(col: Column, agencies: list[str], cutoff: float = 0.8) -> Column:
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
    """
    probe = F.upper(F.trim(col))
    candidates = F.array(
        *[F.struct(F.lit(a).alias("name"), F.lit(a.upper()).alias("key")) for a in agencies]
    )

    def score(cand: Column) -> Column:
        key = cand["key"]
        max_len = F.greatest(F.length(probe), F.length(key))
        sim = F.lit(1.0) - F.levenshtein(probe, key) / max_len
        contained = probe.contains(key) | key.contains(probe)
        # Containment ties: the reference iterates a SET here (its pick
        # is interpreter-hash-order dependent); we break ties by the
        # match appearing earliest in the probe, then the tighter
        # (shorter) canonical — which reproduces the checked-in goldens.
        contained_score = (
            F.lit(0.801)
            + F.lit(0.001) / (1 + F.greatest(F.position(key, probe) - 1, F.lit(0)))
            + F.lit(0.0001) / F.length(cand["name"])
        )
        return F.when(probe.isNull() | (probe == ""), F.lit(-1.0)).otherwise(
            F.when(contained & (sim < cutoff), contained_score).otherwise(sim)
        )

    scores = F.transform(candidates, score)
    best = F.array_max(scores)
    pick = F.element_at(candidates, F.array_position(scores, best).cast("int"))
    return F.when(best >= cutoff, pick["name"])


def _normalize_agencies(df: DataFrame, agencies: list[str]) -> DataFrame:
    """Stage 2 — J2: normalized agency name + boolean flag inside the
    calificacion struct (reference writes both — transform.py:699-702)."""
    ent = F.col("calificacion.entidad_calificadora")
    matched = _agency_match(ent, agencies)
    # flag stays NULL when the field is absent/empty — the reference
    # only writes it when an entidad value exists (transform.py:691-703)
    flag = F.when(ent.isNull() | (F.trim(ent) == ""), F.lit(None).cast("boolean")).otherwise(
        matched.isNotNull()
    )
    return df.withColumn(
        "calificacion",
        F.col("calificacion")
        .withField("entidad_calificadora", F.coalesce(matched, ent))
        .withField("entidad_calificadora_normalizada", flag),
    )


def _parse_dates(df: DataFrame) -> DataFrame:
    """Stage 3 — P8 on the three date fields; ISO-string output keeps
    the reference's store-as-string convention (lexicographic compare
    stays valid). Unparseable values keep the ORIGINAL string
    (reference: src/etl/transform.py:955-963 warns and leaves the
    field untouched); downstream validity gates treat non-ISO as null.
    """

    def parse_keep(path: str) -> Column:
        return F.coalesce(parse_fecha_robusta_iso(F.col(path)), F.col(path))

    return df.withColumn(
        "fic",
        F.col("fic").withField("fecha_corte", parse_keep("fic.fecha_corte")),
    ).withColumn(
        "caracteristicas",
        F.col("caracteristicas").withField(
            "fecha_inicio_operaciones", parse_keep("caracteristicas.fecha_inicio_operaciones")
        ),
    ).withColumn(
        "calificacion",
        F.col("calificacion").withField(
            "fecha_ultima_calificacion", parse_keep("calificacion.fecha_ultima_calificacion")
        ),
    )


def _parse_numerics(df: DataFrame) -> DataFrame:
    """Stage 4 — P7: lenient re-parse of caracteristicas numerics (they
    may arrive as strings upstream of the typed schema; with a typed
    read this is a no-op guard)."""
    return df.withColumn(
        "caracteristicas",
        F.col("caracteristicas")
        .withField("valor", parse_numero(F.col("caracteristicas.valor")))
        .withField(
            "no_unidades_en_circulacion",
            parse_numero(F.col("caracteristicas.no_unidades_en_circulacion")),
        ),
    )


def _classify_tipo(df: DataFrame) -> DataFrame:
    """Stage 5 — P2: keyword-argmax fund classification into fic.tipo."""
    return df.withColumn(
        "fic",
        F.col("fic").withField(
            "tipo", classify_keywords(F.col("fic.politica_de_inversion"), FIC_CLASS_KEYWORDS)
        ),
    )


def _alias_expr(col: Column, aliases: dict[str, str]) -> Column:
    """Alias lookup on the reference's normalized key: lowercase with
    spaces/dashes/underscores stripped (src/etl/transform.py:299-302)."""
    norm = F.regexp_replace(F.lower(col), r"[\s_\-]+", "")
    out = col
    for k, v in aliases.items():
        out = F.when(norm == k, v).otherwise(out)
    return out


def _enrich_url(df: DataFrame, lookup: DataFrame, aliases: dict[str, str]) -> DataFrame:
    """Stage 6 — J1: attach fic.url from the (banco, fic, url) lookup.

    Two-level match per the reference (transform.py:171-269): bank by
    alias-map → exact-normalized → containment; fund within the bank by
    normalized exact → best similarity above threshold. Implemented as
    ONE broadcast fuzzy join: candidates are restricted to the matched
    bank, scored, top-1 by window — the reference's O(records × dims)
    driver loop becomes a single broadcast hash join.
    """
    from pyspark.sql import Window

    probe = df.withColumn(
        "__bank_norm",
        F.lower(F.regexp_replace(_alias_expr(F.col("banco"), aliases), r"[\s_]+", "")),
    ).withColumn("__fund_norm", F.lower(F.regexp_replace(F.col("fondo"), r"[\s_]+", " ")))
    dim = lookup.select(
        F.lower(F.regexp_replace(_alias_expr(F.col("banco"), aliases), r"[\s_]+", "")).alias(
            "__d_bank"
        ),
        F.lower(F.regexp_replace(F.col("fic"), r"[\s_]+", " ")).alias("__d_fund"),
        F.col("url").alias("__url"),
    )
    # Top-1 window key: the reference layout repeats the same
    # <bank>_<fund>_raw.json basename across monthly folders, so
    # partitioning by _filename alone would collapse a multi-month read
    # to one surviving row per basename (dropping whole documents, not
    # just URLs). Key on the full path when the scan provides it, else
    # a per-row unique id so each input record keeps exactly one row.
    if "_filepath" in probe.columns:
        probe = probe.withColumn("__doc_key", F.col("_filepath"))
    else:
        probe = probe.withColumn("__doc_key", F.monotonically_increasing_id())
    cand = probe.join(
        F.broadcast(dim),
        (F.col("__bank_norm") == F.col("__d_bank"))
        | F.col("__bank_norm").contains(F.col("__d_bank"))
        | F.col("__d_bank").contains(F.col("__bank_norm")),
        "left",
    )
    max_len = F.greatest(F.length("__fund_norm"), F.length("__d_fund"))
    sim = F.when(F.col("__d_fund").isNull(), F.lit(-1.0)).otherwise(
        F.when(F.col("__fund_norm") == F.col("__d_fund"), F.lit(2.0)).otherwise(
            F.lit(1.0) - F.levenshtein("__fund_norm", "__d_fund") / max_len
        )
    )
    w = Window.partitionBy("__doc_key").orderBy(
        F.desc("__sim"), F.asc_nulls_last("__d_fund")
    )
    best = (
        cand.withColumn("__sim", sim)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return best.withColumn(
        "fic",
        F.col("fic").withField(
            "url", F.when(F.col("__sim") >= 0.7, F.col("__url"))
        ),
    ).drop(
        "__bank_norm", "__fund_norm", "__d_bank", "__d_fund", "__url",
        "__sim", "__rn", "__doc_key",
    )


def _descale_valor(df: DataFrame) -> DataFrame:
    """Stage 7 — P4: monetary descale of caracteristicas.valor."""
    return df.withColumn(
        "caracteristicas",
        F.col("caracteristicas").withField(
            "valor", descale_monetary(F.col("caracteristicas.valor"), max_iters=6)
        ),
    )


def transform_fic_documents(
    df: DataFrame,
    url_lookup: DataFrame | None = None,
    agencies: list[str] | None = None,
    bank_aliases: dict[str, str] | None = None,
) -> DataFrame:
    """Full 8-stage FIC transform (P1 orchestrator).

    ``df`` is a FIC_RAW_SCHEMA DataFrame with file-metadata columns
    (``banco``, ``fondo``, ``_filename`` — see sources.readers); returns
    the FIC_TRANSFORMED shape.
    """
    out = _normalize_percentages(df)
    out = _normalize_agencies(out, agencies or RATING_AGENCIES)
    out = _parse_dates(out)
    out = _parse_numerics(out)
    out = _classify_tipo(out)
    if url_lookup is not None:
        out = _enrich_url(out, url_lookup, bank_aliases or BANK_ALIASES)
    else:
        out = out.withColumn("fic", F.col("fic").withField("url", F.lit(None).cast("string")))
    out = _descale_valor(out)
    out = repair_structure(out)
    return out
