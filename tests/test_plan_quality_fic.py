"""Plan-size guard for the FIC transform: the optimized plan of the
monthly transform must stay small enough that Catalyst plans it in
seconds, i.e. the agency match must not be unrolled per candidate.
"""

from __future__ import annotations

from owl_etl_spark.cli import _staged_schema
from owl_etl_spark.plans.fic_pipeline import transform_fic_documents
from owl_etl_spark.schemas import FIC_LOOKUP_SCHEMA, FIC_RAW_SCHEMA


def test_fic_transform_optimized_plan_stays_small(spark):
    docs = spark.createDataFrame([], _staged_schema(FIC_RAW_SCHEMA))
    lookup = spark.createDataFrame([("b", "f", "u")], FIC_LOOKUP_SCHEMA)
    out = transform_fic_documents(docs, url_lookup=lookup)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("levenshtein") <= 20
    assert len(plan) < 250 * 1024
