"""Plan-size and plan-shape guards for the FIC transform: the optimized
plan of the monthly transform must stay small enough that Catalyst plans
it quickly (no expression unrolled per candidate agency or per month
spelling), and the month must run as one stage: a broadcast of the URL
candidates, no shuffle and no window.
"""

from __future__ import annotations

import re

from owl_etl_spark.cli import _staged_schema
from owl_etl_spark.plans.fic_pipeline import transform_fic_documents
from owl_etl_spark.schemas import FIC_LOOKUP_SCHEMA, FIC_RAW_SCHEMA


def _transform(spark):
    docs = spark.createDataFrame([], _staged_schema(FIC_RAW_SCHEMA))
    lookup = spark.createDataFrame([("b", "f", "u")], FIC_LOOKUP_SCHEMA)
    return transform_fic_documents(docs, url_lookup=lookup)


def test_fic_transform_optimized_plan_stays_small(spark):
    plan = _transform(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("levenshtein") <= 20
    assert plan.lower().count("regexp_replace") <= 90
    assert len(plan) < 80 * 1024


def test_fic_transform_runs_without_shuffle_or_window(spark):
    plan = _transform(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
    assert "Window" not in plan, plan
