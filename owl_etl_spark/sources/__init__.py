from owl_etl_spark.sources.readers import (
    read_events,
    read_fic_json,
    read_skip_list,
    read_table,
)

__all__ = [
    "read_events",
    "read_fic_json",
    "read_skip_list",
    "read_table",
]
