from owl_etl_spark.functions import dates, hashing, numeric, similarity, text, urls

__all__ = ["dates", "hashing", "numeric", "similarity", "text", "urls"]
