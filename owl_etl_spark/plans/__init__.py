from owl_etl_spark.plans.fic_pipeline import transform_fic_documents

__all__ = ["transform_fic_documents"]
