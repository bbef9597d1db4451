"""owl_etl_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the data-processing
capabilities of the reference ETL pipeline (Jave-OWL/owl-ETL, surveyed
in SURVEY.md), extended with the operators a large-scale LLM
training-data pipeline needs (dedup, similarity search, multimodal
columns, text analysis).

Design principles (see SURVEY.md §7):
- every operator is a function ``DataFrame -> DataFrame`` (or a pure
  ``Column`` expression), composable by plain function application;
- declarative first: built-in ``pyspark.sql.functions`` and
  higher-order array functions so Catalyst/Tungsten keep the whole
  plan inside WholeStageCodegen; Python UDFs only where semantics
  genuinely require them (difflib-parity similarity, external
  services, multimodal decode);
- scale-aware: broadcast joins for dimensions, explicit shuffle-key
  choices, salting/AQE notes where keys can skew; nothing collects to
  the driver in the hot path.
"""

from owl_etl_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
