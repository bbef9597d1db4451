from owl_etl_spark.operators.latest import latest_per_key, scd2_history
from owl_etl_spark.operators.quality import anti_filter, repair_structure, split_by_predicate
from owl_etl_spark.operators.sessionize import sessionize
from owl_etl_spark.operators.split import (
    hash_split,
    per_key_cap,
    stratified_sample_exact,
    temperature_mixture,
    weighted_mixture,
)

__all__ = [
    "anti_filter",
    "hash_split",
    "per_key_cap",
    "temperature_mixture",
    "latest_per_key",
    "repair_structure",
    "scd2_history",
    "sessionize",
    "split_by_predicate",
    "stratified_sample_exact",
    "weighted_mixture",
]
